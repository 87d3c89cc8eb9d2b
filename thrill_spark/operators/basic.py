"""Local ops (LOps): Map / Filter / FlatMap / Union / BernoulliSample.

Thrill fuses these onto the function stack without creating DAG nodes
(thrill/api/dia.hpp:357-496); Catalyst's project/filter collapse +
whole-stage codegen is the exact analogue, so these are thin wrappers
that keep everything expression-based (JVM-side).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def map_rows(df: DataFrame, exprs: Mapping[str, Column]) -> DataFrame:
    """Map (dia.hpp:357-387): 1->1 type-changing transform, expressed as
    a projection of named expression columns."""
    return df.select(*[expr.alias(name) for name, expr in exprs.items()])


def with_columns(df: DataFrame, exprs: Mapping[str, Column]) -> DataFrame:
    """Map variant that appends/overwrites columns."""
    return df.withColumns(dict(exprs))


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """Filter (dia.hpp:404-432)."""
    return df.filter(predicate)


def flat_map(
    df: DataFrame,
    explode_expr: Column,
    out_name: str,
    keep: Sequence[str] = (),
    keep_empty: bool = False,
) -> DataFrame:
    """FlatMap (dia.hpp:457-474): 1->0..n via an array expression +
    explode. keep_empty=True uses explode_outer (emits a null row for
    empty arrays, like a window fn that may emit nothing vs once)."""
    exploder = F.explode_outer if keep_empty else F.explode
    return df.select(*keep, exploder(explode_expr).alias(out_name))


def union_bag(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union (thrill/api/union.hpp:53): bag union, no dedup, no
    rebalance, arbitrary order — Spark unionByName without distinct."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def bernoulli_sample(df: DataFrame, p: float, seed: int | None = None) -> DataFrame:
    """BernoulliSample(p) (thrill/api/bernoulli_sample.hpp:27):
    independent coin flip per item."""
    return df.sample(fraction=p, seed=seed)


def systematic_sample(df: DataFrame, order_by: Sequence[str | Column], every_k: int) -> DataFrame:
    """Deterministic 1-in-k systematic sample over a total order —
    oracle-friendly stand-in for Sample(k) (thrill/api/sample.hpp:33-50)
    when exactness of membership matters more than randomness."""
    from thrill_spark.ordering import IDX, with_index

    return with_index(df, order_by).filter(F.col(IDX) % every_k == 0).drop(IDX)


def exact_sample(df: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """Sample(k): exactly k items uniformly without replacement
    (thrill/api/sample.hpp:33-50, Sanders et al. TOMS 2017). At scale the
    hypergeometric split avoids a global sort; orderBy(rand).limit(k) is
    acceptable because limit(k) only materializes k rows per partition
    then k overall (TakeOrderedAndProject)."""
    return df.orderBy(F.rand(seed)).limit(k)


def exact_sample_distributed(df: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """Sample(k) the way the reference does it at scale
    (thrill/api/sample.hpp:33-50, Sanders et al. TOMS 2017): split k
    across partitions by a multivariate hypergeometric draw over the
    partition sizes, then each partition independently picks its quota
    of local row indices without replacement. Two passes over the data,
    no global sort, no shuffle; the driver sees only the per-partition
    counts (one int per partition), so this holds at 1000 executors ×
    100 TB where orderBy(rand()).limit(k)'s range-partitioned sort (or
    its TakeOrdered heap over k per partition) would dominate.

    The draw is exactly uniform: P(pick this k-subset) factorizes into
    the hypergeometric split × within-partition uniform choices."""
    import numpy as np

    from thrill_spark.ordering import _persist

    pid_col = "__ts_pid"
    # Persist BEFORE the sizes job: if the input is nondeterministic
    # (downstream of sample()/rand()/a shuffle), recomputation between
    # the count job and the pick job could change partition contents,
    # making quotas wrong or pids unknown — same discipline as
    # ordering._order_partitioned.
    with_pid = _persist(df.withColumn(pid_col, F.spark_partition_id()))
    sizes = {
        r["pid"]: r["n"]
        for r in with_pid.groupBy(F.col(pid_col).alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pids = sorted(sizes)
    counts = [sizes[p] for p in pids]
    total = sum(counts)
    if k >= total:
        return df
    rng = np.random.default_rng(seed)
    quota = dict(zip(pids, rng.multivariate_hypergeometric(counts, k)))
    out_schema = df.schema

    def pick(batches):
        import pandas as pd

        offset, chosen = 0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if chosen is None:
                pid = int(pdf[pid_col].iloc[0])
                if pid not in sizes:
                    raise RuntimeError(
                        f"exact_sample_distributed: partition {pid} absent "
                        "from the sizes pass — input changed between jobs "
                        "despite persist; rerun with a stable input"
                    )
                q, n = int(quota.get(pid, 0)), sizes[pid]
                local = np.random.default_rng((seed, pid))
                chosen = set(local.choice(n, q, replace=False).tolist()) if q else set()
            if chosen:
                idx = [i for i in range(len(pdf)) if offset + i in chosen]
                if idx:
                    yield pdf.iloc[idx].drop(columns=[pid_col])
            offset += len(pdf)

    return with_pid.mapInPandas(pick, schema=out_schema)
