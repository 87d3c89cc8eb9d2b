"""The two workloads. Each one names the tables it generates, computes
its DuckDB answers before the timed window, runs one operation through
thrill_spark's public functions with a span around every call into a
layer, and checks the operation's output.

Why these two (each stresses layers the other leaves idle):
- curation_pipeline: dedup kernels, the iterative connected-components
  driver loop, shuffles, the write path and the Arrow-fed Python
  workers of semantic dedup; ``ordering`` does almost nothing.
- analytics_concurrent: short requests from four clients, so per-request
  fixed costs dominate (planning, ``ordering``'s eager boundary and
  offset jobs, memo hits against misses, job scheduling under
  concurrency); ``functions`` sits idle.
"""

from __future__ import annotations

import datetime
import itertools
import os
import random
import shutil
from typing import Iterator

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import oracle as OR
from perfbench.tracing import Tracer
from thrill_spark import catalog
from thrill_spark import ordering as O
from thrill_spark.functions import corpus as C
from thrill_spark.functions import dedup as D
from thrill_spark.functions import similarity as S
from thrill_spark.functions import text as TX
from thrill_spark.operators import basic as B
from thrill_spark.operators import join as J
from thrill_spark.operators import reduce as R
from thrill_spark.plans import algorithms as ALG
from thrill_spark.plans.queries import ORACLES  # first: it imports the query batches in order
from thrill_spark.plans import queries_corpus as QC
from thrill_spark.plans import queries_llm as QL
from thrill_spark.plans import queries_mining as QM
from thrill_spark.plans import queries_pipeline as QP
from thrill_spark.sources import io as IO


def _collect(df: DataFrame, tr: Tracer) -> tuple[list[str], list]:
    with tr.span("action"):
        return df.columns, df.collect()


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, spec: dict, data_dir: str, truth: dict, work_dir: str, seed: int) -> None:
        self.p = spec["workloads"][self.name]
        self.clients = self.p["clients"]
        self.data_dir = data_dir
        self.truth = truth
        self.work_dir = work_dir
        self.seed = seed

    def oracle(self, con) -> None:
        """Compute every answer the timed window will need."""

    def warmup_requests(self) -> list:
        return [None]

    def requests(self, client: int) -> Iterator:
        while True:
            yield None

    def run(self, spark, tr: Tracer, req):
        raise NotImplementedError

    def check(self, req, out) -> str | None:
        raise NotImplementedError

    def probe(self, spark) -> tuple[dict[str, float], list[str]]:
        """Useful-over-attempted ratios for the traced run, measured where
        the work happens (0 on workloads that do not do that work), and
        the failures found while measuring them."""
        return {"functions.dedup.lsh_precision": 0.0, "functions.similarity.recall_at_k": 0.0}, []


# ---------------------------------------------------------------------------
class Curation(Workload):
    """Full near-dup curation chain per operation, with the registered
    dedup_pipeline_survivors and corpus_pack_greedy parameters so their
    ORACLES SQL is the answer (the pack oracle runs over the survivors),
    followed by semantic dedup of the corpus embeddings with the
    registered dedup_semantic_keep parameters."""

    name = "curation_pipeline"
    tables = ("documents", "embeddings")

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        if self.p["dim"] != QM._SEM_DIM:
            raise ValueError(f"dim must be {QM._SEM_DIM}, the registered semantic-dedup dim")
        self.ann = self.p["ann"]
        if self.ann["probe_mod"] % 10:
            raise ValueError("ANN probes must be a subset of the kNN probes (vec_id % 10 == 0)")
        self._outputs = itertools.count(1)

    def oracle(self, con) -> None:
        self.want_sem = OR.canonical(*OR.fetch(con, ORACLES["dedup_semantic_keep"]))
        cols, rows = OR.fetch(con, ORACLES["similarity_knn_join"])
        q, n = cols.index("query_id"), cols.index("neighbor_id")
        mod = self.ann["probe_mod"]
        self.exact_topk = {(r[q], r[n]) for r in rows if r[q] % mod == 0}
        self.n_probes = len({r[q] for r in rows if r[q] % mod == 0})
        con.execute(
            "CREATE TABLE survivors AS SELECT doc_id FROM ("
            + ORACLES["dedup_pipeline_survivors"]
            + ") WHERE is_survivor"
        )
        path = os.path.join(self.data_dir, "documents.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}') "
            "WHERE doc_id IN (SELECT doc_id FROM survivors)"
        )
        self.want = OR.canonical(*OR.fetch(con, ORACLES["corpus_pack_greedy"]))

    def run(self, spark, tr: Tracer, req) -> tuple[str, tuple]:
        with tr.span("catalog"):
            docs = catalog.load_table(spark, self.data_dir, "documents")
        with tr.span("functions.dedup"):
            edges = D.lsh_verified_pairs(
                docs, num_hashes=QL._MH_K, bands=QL._MH_BANDS, threshold=QC._VERIFY_TAU
            )
        with tr.span("plans.algorithms"):
            comp = ALG.connected_components(edges, a="id_a", b="id_b")
        with tr.span("operators"):
            labelled = J.join_dfs(
                docs.select("doc_id"), comp.withColumnRenamed("node", "doc_id"), ["doc_id"], "left"
            )
        with tr.span("operators"):
            keep = B.filter_rows(labelled, F.coalesce("component", "doc_id") == F.col("doc_id"))
        with tr.span("operators"):
            kept = J.join_dfs(docs, keep.select("doc_id"), ["doc_id"], "leftsemi")
        with tr.span("functions.text"):
            n_tok = TX.token_count("text")
        with tr.span("functions.corpus"):
            packed = C.pack_greedy(
                kept.select("doc_id", n_tok.alias("n_tok")),
                "n_tok",
                budget=QC._PACK_BUDGET,
                n_shards=QC._PACK_SHARDS,
            )
        path = os.path.join(self.work_dir, f"packed-{next(self._outputs)}")
        with tr.span("sources"):
            IO.write_binary(packed, path)
        with tr.span("catalog"):
            emb = catalog.load_table(spark, self.data_dir, "embeddings")
        with tr.span("functions.similarity"):
            sem = S.semantic_dedup(
                emb, dim=QM._SEM_DIM, n_planes=QM._SEM_PLANES, threshold=QM._SEM_TAU
            )
        return path, _collect(sem, tr)

    def check(self, req, out: tuple[str, tuple]) -> str | None:
        path, sem_rows = out
        t = pq.read_table(path)
        shutil.rmtree(path, ignore_errors=True)
        got = OR.canonical(t.column_names, [tuple(r.values()) for r in t.to_pylist()])
        bad = OR.mismatch(got, self.want)
        if bad:
            return f"packed survivors vs registered oracles: {bad}"
        n = len(got[1])
        if n != self.truth["expected_survivors"]:
            return f"{n} survivors != {self.truth['expected_survivors']} planted"
        bad = OR.mismatch(OR.canonical(*sem_rows), self.want_sem)
        if bad:
            return f"semantic_dedup vs registered oracle: {bad}"
        return None

    def probe(self, spark) -> tuple[dict[str, float], list[str]]:
        """Verified pairs over LSH candidate pairs, and IVF-PQ ANN
        recall@k against the exact top-k, via the layers' own public
        functions on the same inputs. An ANN recall under the floor is a
        failure."""
        docs = catalog.load_table(spark, self.data_dir, "documents")
        sig = D.minhash_signatures(docs, "text", "doc_id", QL._MH_K, 3)
        cands = D.lsh_candidate_pairs(sig, "doc_id", QL._MH_K, QL._MH_BANDS).count()
        verified = D.lsh_verified_pairs(
            docs, num_hashes=QL._MH_K, bands=QL._MH_BANDS, threshold=QC._VERIFY_TAU
        ).count()
        emb = catalog.load_table(spark, self.data_dir, "embeddings")
        ann = S.pq_ann_topk(
            emb, k=QP._KNN_K, m=self.ann["m"], ksub=self.ann["ksub"],
            probe_mod=self.ann["probe_mod"],
        )
        found = {(r[0], r[1]) for r in ann.select("query_id", "neighbor_id").collect()}
        O.release_persisted()
        recall = len(found & self.exact_topk) / (self.n_probes * QP._KNN_K)
        failures = []
        if recall < self.ann["recall_floor"]:
            failures.append(
                f"ANN recall@{QP._KNN_K} {recall:.3f} < floor {self.ann['recall_floor']}"
            )
        values = {
            "functions.dedup.lsh_precision": verified / cands if cands else 0.0,
            "functions.similarity.recall_at_k": recall,
        }
        return values, failures


# ---------------------------------------------------------------------------
def _dec(col: str, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def _lit_ts(date: str):
    return F.lit(f"{date} 00:00:00").cast("timestamp")


def _ts(day: int) -> str:
    return (datetime.date(1992, 1, 1) + datetime.timedelta(days=day)).isoformat()


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SQL_REVENUE = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) "
    "- CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
)


def _revenue():
    one = F.lit(1).cast("decimal(18,4)")
    return F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4))).cast("double")


# More requests per client than a window sends (about one per client per
# second); a client that ran out would start its list again.
_REQUESTS_PER_CLIENT = 96
# Warm-up requests per template: operation times still fall after the
# first pass, as the JVM compiles the hot paths of concurrent requests.
_WARMUP_ROUNDS = 2


class Analytics(Workload):
    """Parameterized short requests from a fixed template mix over
    lineitem/orders. Each template has a DuckDB twin; a share of the
    requests repeats an earlier request exactly."""

    name = "analytics_concurrent"
    tables = ("lineitem", "orders")
    _ORDERED = {"merge_sorted"}
    _TABLES = {
        "q1_reduce_by_key": ("lineitem",),
        "q18_aggregate": ("lineitem", "orders"),
        "join_aggregate": ("lineitem", "orders"),
        "median_by_key": ("lineitem",),
        "with_index": ("orders",),
        "prefix_sum": ("orders",),
        "sliding_window": ("orders",),
        "merge_sorted": ("orders",),
    }

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        # Client c sends the templates round-robin from offset 2c, so
        # the mix of any stretch of requests is the same for every seed.
        # In each client's stream a seeded repeat_share of the requests
        # repeats exactly a request that has completed before it was
        # sent: a warm-up request of its template or one of the
        # client's own earlier requests of that template.
        rng = random.Random(self.seed)
        templates = self.p["templates"]
        warm = random.Random(self.seed ^ 0x5EED)
        self._warm = [self._draw(warm, t) for _ in range(_WARMUP_ROUNDS) for t in templates]
        n = _REQUESTS_PER_CLIENT
        self._reqs: list[list[tuple]] = []
        for c in range(self.clients):
            repeats = [i < round(n * self.p["repeat_share"]) for i in range(n)]
            rng.shuffle(repeats)
            done = {t: [w for w in self._warm if w[0] == t] for t in templates}
            mine = []
            for i in range(n):
                t = templates[(i + 2 * c) % len(templates)]
                if repeats[i]:
                    req = rng.choice(done[t])
                else:
                    req = self._draw(rng, t)
                    done[t].append(req)
                mine.append(req)
            self._reqs.append(mine)

    @staticmethod
    def _draw(rng: random.Random, t: str) -> tuple:
        if t == "q1_reduce_by_key":
            return (t, _ts(rng.randrange(1500, 2555)))
        if t == "q18_aggregate":
            return (t, rng.randrange(180, 220))
        if t == "join_aggregate":
            return (t, rng.choice(_PRIORITIES), _ts(rng.randrange(365, 2555)))
        if t == "median_by_key":
            d = rng.randrange(0, 2200)
            return (t, _ts(d), _ts(d + 365))
        if t == "with_index":
            c = rng.randrange(0, 1800)
            return (t, c, c + 200)
        if t == "prefix_sum":
            d = rng.randrange(0, 2300)
            return (t, _ts(d), _ts(d + 180))
        if t == "sliding_window":
            return (t, rng.choice(_PRIORITIES), rng.randrange(3, 10))
        if t == "merge_sorted":
            d = rng.randrange(0, 2200)
            return (t, _ts(d), _ts(d + 365))
        raise ValueError(t)

    def warmup_requests(self) -> list:
        return self._warm

    def requests(self, client: int) -> Iterator:
        while True:
            yield from self._reqs[client]

    @staticmethod
    def _sql(req: tuple) -> str:
        t = req[0]
        if t == "q1_reduce_by_key":
            return f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   {_SQL_REVENUE} AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{req[1]} 00:00:00'
            GROUP BY l_returnflag, l_linestatus"""
        if t == "q18_aggregate":
            return f"""
            SELECT l_orderkey, o_custkey, o_totalprice, CAST(s AS DOUBLE) AS sum_qty
            FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s
                  FROM lineitem GROUP BY l_orderkey) a
            JOIN orders ON o_orderkey = l_orderkey
            WHERE s > {req[1]}"""
        if t == "join_aggregate":
            return f"""
            SELECT l_returnflag, COUNT(*) AS n_items, {_SQL_REVENUE} AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '{req[1]}' AND l_shipdate < TIMESTAMP '{req[2]} 00:00:00'
            GROUP BY l_returnflag"""
        if t == "median_by_key":
            return f"""
            SELECT l_returnflag, l_linestatus, quantile_cont(l_quantity, 0.5) AS median_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{req[1]} 00:00:00'
              AND l_shipdate < TIMESTAMP '{req[2]} 00:00:00'
            GROUP BY l_returnflag, l_linestatus"""
        if t == "with_index":
            return f"""
            SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS _idx, o_orderkey
            FROM orders WHERE o_custkey >= {req[1]} AND o_custkey < {req[2]}"""
        if t == "prefix_sum":
            return f"""
            SELECT o_orderkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (ORDER BY o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{req[1]} 00:00:00'
              AND o_orderdate < TIMESTAMP '{req[2]} 00:00:00'"""
        if t == "sliding_window":
            k = req[2]
            return f"""
            SELECT o_orderkey, win_sum, win_cnt FROM (
              SELECT o_orderkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS win_sum,
                     COUNT(*) OVER w AS win_cnt,
                     ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
              FROM orders WHERE o_orderpriority = '{req[1]}'
              WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW))
            WHERE rn >= {k}"""
        if t == "merge_sorted":
            return f"""
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderdate >= TIMESTAMP '{req[1]} 00:00:00'
              AND o_orderdate < TIMESTAMP '{req[2]} 00:00:00'
              AND o_orderstatus IN ('F', 'O')
            ORDER BY o_orderkey"""
        raise ValueError(t)

    def oracle(self, con) -> None:
        self.want = {}
        for req in {r for mine in self._reqs for r in mine} | set(self._warm):
            cols, rows = OR.fetch(con, self._sql(req))
            self.want[req] = OR.canonical(cols, rows, req[0] in self._ORDERED)

    def run(self, spark, tr: Tracer, req: tuple):
        t = req[0]
        df = {}
        for name in self._TABLES[t]:
            with tr.span("catalog"):
                df[name] = catalog.load_table(spark, self.data_dir, name)
        if t == "q1_reduce_by_key":
            with tr.span("operators"):
                li = B.filter_rows(df["lineitem"], F.col("l_shipdate") <= _lit_ts(req[1]))
            with tr.span("operators"):
                out = R.reduce_by_key(li, ["l_returnflag", "l_linestatus"], {
                    "sum_qty": F.sum(_dec("l_quantity")).cast("double"),
                    "sum_base_price": F.sum(_dec("l_extendedprice")).cast("double"),
                    "sum_disc_price": _revenue(),
                    "count_order": F.count("*"),
                })
        elif t == "q18_aggregate":
            with tr.span("operators"):
                agg = R.reduce_by_key(df["lineitem"], ["l_orderkey"], {"s": F.sum(_dec("l_quantity"))})
            with tr.span("operators"):
                big = B.filter_rows(agg, F.col("s") > F.lit(req[1]))
            o = df["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_totalprice"
            )
            with tr.span("operators"):
                joined = J.inner_join(big, o, on=["l_orderkey"])
            out = joined.select(
                "l_orderkey", "o_custkey", "o_totalprice", F.col("s").cast("double").alias("sum_qty")
            )
        elif t == "join_aggregate":
            with tr.span("operators"):
                li = B.filter_rows(df["lineitem"], F.col("l_shipdate") < _lit_ts(req[2]))
            with tr.span("operators"):
                o = B.filter_rows(df["orders"], F.col("o_orderpriority") == req[1])
            with tr.span("operators"):
                keys = o.select(F.col("o_orderkey").alias("l_orderkey"))
                joined = J.inner_join(li, keys, on=["l_orderkey"])
            with tr.span("operators"):
                out = R.reduce_by_key(joined, ["l_returnflag"], {
                    "n_items": F.count("*"), "revenue": _revenue(),
                })
        elif t == "median_by_key":
            with tr.span("operators"):
                li = B.filter_rows(
                    df["lineitem"],
                    (F.col("l_shipdate") >= _lit_ts(req[1])) & (F.col("l_shipdate") < _lit_ts(req[2])),
                )
            with tr.span("operators"):
                out = R.median_by_key(
                    li, ["l_returnflag", "l_linestatus"], "l_quantity", out="median_qty"
                )
        elif t == "with_index":
            with tr.span("operators"):
                o = B.filter_rows(
                    df["orders"], (F.col("o_custkey") >= req[1]) & (F.col("o_custkey") < req[2])
                )
            with tr.span("ordering"):
                out = O.with_index(o.select("o_orderkey"), ["o_orderkey"]).select("_idx", "o_orderkey")
        elif t == "prefix_sum":
            with tr.span("operators"):
                o = B.filter_rows(
                    df["orders"],
                    (F.col("o_orderdate") >= _lit_ts(req[1])) & (F.col("o_orderdate") < _lit_ts(req[2])),
                )
            with tr.span("ordering"):
                ps = O.prefix_sum(
                    o.select("o_orderkey", _dec("o_totalprice").alias("p")), ["o_orderkey"], "p",
                    name="running_total",
                )
            out = ps.select("o_orderkey", F.col("running_total").cast("double").alias("running_total"))
        elif t == "sliding_window":
            with tr.span("operators"):
                o = B.filter_rows(df["orders"], F.col("o_orderpriority") == req[1])
            with tr.span("ordering"):
                win = O.sliding_window(
                    o.select("o_orderkey", _dec("o_totalprice").alias("p")), ["o_orderkey"],
                    size=req[2], aggs={"win_sum": F.sum("p"), "win_cnt": F.count("*")},
                )
            out = win.select("o_orderkey", F.col("win_sum").cast("double").alias("win_sum"), "win_cnt")
        elif t == "merge_sorted":
            with tr.span("operators"):
                o = B.filter_rows(
                    df["orders"],
                    (F.col("o_orderdate") >= _lit_ts(req[1])) & (F.col("o_orderdate") < _lit_ts(req[2])),
                ).select("o_orderkey", "o_totalprice", "o_orderstatus")
            parts = []
            for status in ("F", "O"):
                with tr.span("operators"):
                    part = B.filter_rows(o, F.col("o_orderstatus") == status)
                with tr.span("ordering"):
                    parts.append(O.sort_by(part.select("o_orderkey", "o_totalprice"), ["o_orderkey"]))
            with tr.span("ordering"):
                out = O.merge_sorted(parts, ["o_orderkey"])
        else:
            raise ValueError(t)
        return _collect(out, tr)

    def check(self, req: tuple, out: tuple) -> str | None:
        bad = OR.mismatch(OR.canonical(*out, req[0] in self._ORDERED), self.want[req])
        return f"{req}: {bad}" if bad else None


WORKLOADS = {w.name: w for w in (Curation, Analytics)}
