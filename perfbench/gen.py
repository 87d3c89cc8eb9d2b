"""Seeded input generator: writes each workload's tables as parquet with
the fixture schemas of FIXTURES.md section B. The same seed gives the
same bytes; the program under test only ever sees the parquet paths.

Sizes and shares come from spec.json. Nothing here reads the shared
fixture directory; every table is built from the seed alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LANGS = ("en", "de", "fr", "es", "zh")
_EPOCH = dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc)
_DAYS = 7 * 365


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents(rng: np.random.Generator, p: dict) -> tuple[pa.Table, dict]:
    """Corpus with planted near-duplicate clusters.

    A cluster is one base document plus variants that each append one
    distinct extra word, so every variant shares all but one of its
    word 3-shingles with the base (Jaccard >= 40/41 at the minimum
    length): minhash-LSH finds each base-variant pair with probability
    above 1 - 1e-5, and the verified Jaccard clears the threshold.
    Partial-overlap documents copy the first half of another document
    and continue with fresh words (Jaccard near 1/3): they become LSH
    candidates often but must be rejected by the verify step.

    Returns the table and the planted truth (expected survivor count).
    """
    n = p["documents"]
    lo, hi = p["tokens_per_doc"]
    vocab = np.array([f"w{i}" for i in range(p["vocabulary"])])
    n_variants = int(round(n * p["near_dup_share"]))
    n_partial = int(round(n * p["partial_overlap_share"]))
    n_base = n - n_variants - n_partial

    def fresh(k: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), size=k)])

    texts = [fresh(int(rng.integers(lo, hi + 1))) for _ in range(n_base)]
    variants_left, clusters, b = n_variants, 0, 0
    while variants_left > 0:
        size = int(rng.integers(p["cluster_size"][0], p["cluster_size"][1] + 1))
        extra = min(size - 1, variants_left)
        base = texts[b]
        for _ in range(extra):
            texts.append(base + fresh(1))
        variants_left -= extra
        clusters += 1
        b += 1
    if b > n_base:
        raise ValueError("near_dup_share too high for the document count")
    for _ in range(n_partial):
        src = texts[int(rng.integers(0, n_base))]
        half = len(src) // 2
        texts.append(src[:half] + fresh(len(src) - half))
    order = rng.permutation(n)
    doc_text = [" ".join(texts[i]) for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(doc_text, pa.string()),
            "lang": pa.array([_LANGS[i % len(_LANGS)] for i in range(n)], pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in doc_text], pa.int64()),
        }
    )
    truth = {
        "documents": n,
        "clusters": clusters,
        "variants": n_variants,
        "partial_overlap": n_partial,
        "expected_survivors": n - n_variants,
    }
    return table, truth


def _timestamps(days: np.ndarray) -> pa.Array:
    ms = (days.astype(np.int64) * 86_400_000) + int(_EPOCH.timestamp() * 1000)
    return pa.array(ms, pa.timestamp("ms"))


def orders_lineitem(rng: np.random.Generator, p: dict) -> tuple[pa.Table, pa.Table]:
    """TPC-H-shaped orders and lineitem. Money columns carry exactly two
    decimals and rates exactly two, so decimal casts in Spark and DuckDB
    see the same values; quantities are whole numbers."""
    n_o, n_l = p["orders"], p["lineitem"]
    o_days = rng.integers(0, _DAYS, size=n_o)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, p["customers"], size=n_o, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_o), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, size=n_o), 2)),
            "o_orderdate": _timestamps(o_days),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_o),
                pa.string(),
            ),
        }
    )
    l_ok = rng.integers(0, n_o, size=n_l, dtype=np.int64)
    qty = rng.integers(1, 51, size=n_l).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ok),
            "l_partkey": pa.array(rng.integers(0, 4000, size=n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 200, size=n_l, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_l, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_000, size=n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_l), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_l), pa.string()),
            "l_shipdate": _timestamps(np.minimum(o_days[l_ok] + rng.integers(1, 122, size=n_l), _DAYS)),
        }
    )
    return orders, lineitem


def embeddings(rng: np.random.Generator, p: dict) -> pa.Table:
    """Clustered unit-scale embeddings: cluster centers are random
    directions, points are center + isotropic noise (label = cluster)."""
    n, dim, c = p["embeddings"], p["dim"], p["embedding_clusters"]
    centers = rng.standard_normal((c, dim))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    labels = rng.integers(0, c, size=n)
    noise = rng.standard_normal((n, dim)) * (p["embedding_noise"] / np.sqrt(dim))
    vecs = (centers[labels] + noise).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate(workload: str, spec: dict, seed: int, out_dir: str) -> dict:
    """Write the workload's tables under out_dir; return planted truth
    (row counts and, for the corpus, the expected survivor count). The
    curation corpus comes with an embeddings table for its semantic
    dedup step."""
    p = spec["workloads"][workload]
    rng = np.random.default_rng([seed, sorted(spec["workloads"]).index(workload)])
    if workload == "curation_pipeline":
        table, truth = documents(rng, p)
        _write(table, out_dir, "documents")
        emb = embeddings(rng, p)
        _write(emb, out_dir, "embeddings")
        return {**truth, "embeddings": emb.num_rows}
    if workload == "analytics_concurrent":
        orders, lineitem = orders_lineitem(rng, p)
        _write(orders, out_dir, "orders")
        _write(lineitem, out_dir, "lineitem")
        return {"orders": orders.num_rows, "lineitem": lineitem.num_rows}
    raise ValueError(f"unknown workload {workload!r}")
