"""Ordered-array op tests — the RunLocalTests analogue (SURVEY §5):
each property is checked at several parallelism settings by varying
shuffle partitions and input partitioning."""

import pytest
from pyspark.sql import functions as F

from thrill_spark import ordering as O

PARALLELISMS = [1, 5]


@pytest.fixture(params=PARALLELISMS)
def par(request, spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
    yield request.param
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _ints(spark, n, parts=7, shuffled=True):
    df = spark.range(n).withColumnRenamed("id", "v")
    if shuffled:
        df = df.orderBy(F.pmod(F.col("v") * 2654435761, 1000), "v")  # scramble
    return df.repartition(parts)


def test_with_index_is_dense_and_ordered(spark, par):
    df = _ints(spark, 1000)
    out = O.with_index(df, ["v"]).orderBy("_idx").collect()
    assert [r["_idx"] for r in out] == list(range(1000))
    assert [r["v"] for r in out] == list(range(1000))


def test_with_index_ties_with_tiebreaker(spark, par):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (0, "c")], ["k", "s"])
    out = O.with_index(df, ["k", "s"]).orderBy("_idx").collect()
    assert [(r["k"], r["s"]) for r in out] == [(0, "c"), (1, "a"), (1, "b")]


def test_prefix_sum_matches_cumsum(spark, par):
    df = _ints(spark, 500)
    out = O.prefix_sum(df, ["v"], "v", name="ps").orderBy("v").collect()
    expect, acc = [], 0
    for i in range(500):
        acc += i
        expect.append(acc)
    assert [r["ps"] for r in out] == expect


def test_ex_prefix_sum_exclusive(spark, par):
    df = spark.range(10).withColumnRenamed("id", "v")
    out = O.prefix_sum(df, ["v"], "v", name="ps", exclusive=True).orderBy("v").collect()
    acc, expect = 0, []
    for i in range(10):
        expect.append(acc)
        acc += i
    assert [r["ps"] for r in out] == expect


def test_zip_cut_stops_at_shortest(spark, par):
    a = spark.range(10).select(F.col("id").alias("x"))
    b = spark.range(6).select((F.col("id") * 100).alias("y"))
    out = O.zip_dfs([a, b], [["x"], ["y"]], how="cut").orderBy("_idx").collect()
    assert len(out) == 6
    assert [(r["x"], r["y"]) for r in out] == [(i, i * 100) for i in range(6)]


def test_zip_pad_fills_defaults(spark, par):
    a = spark.range(4).select(F.col("id").alias("x"))
    b = spark.range(7).select((F.col("id") * 10).alias("y"))
    out = O.zip_dfs(
        [a, b], [["x"], ["y"]], how="pad", pad_defaults=[{"x": -1}, {}]
    ).orderBy("_idx").collect()
    assert len(out) == 7
    assert [r["x"] for r in out] == [0, 1, 2, 3, -1, -1, -1]


def test_zip_strict_raises_on_unequal(spark, par):
    a = spark.range(4).select(F.col("id").alias("x"))
    b = spark.range(5).select(F.col("id").alias("y"))
    with pytest.raises(ValueError):
        O.zip_dfs([a, b], [["x"], ["y"]], how="strict")


def test_sliding_window_halo_matches_naive(spark, par):
    """Halo-partitioned sliding window == single-partition global window."""
    from pyspark.sql import Window

    df = _ints(spark, 300)
    out = (
        O.sliding_window(df, ["v"], size=5, aggs={"s": F.sum("v")})
        .orderBy("_idx")
        .collect()
    )
    assert len(out) == 300 - 4
    for r in out:
        v = r["v"]
        assert r["s"] == sum(range(v - 4, v + 1))


def test_halo_windows_cross_bucket_boundaries(spark):
    """140k rows span three halo buckets (bucket_rows = max(64*k, 65536)),
    so rows at both bucket edges need the halo: the backward one
    (sliding_window) and the forward one (flat_window_partial). Both
    must equal a single-partition global window."""
    from pyspark.sql import Window

    n, k = 140_000, 5
    df = spark.range(n).select(
        F.col("id").alias("v"), (F.col("id") * 7919 % 1000).alias("x")
    ).repartition(4)
    g = Window.orderBy("v")

    def same(got, want):
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    back = g.rowsBetween(-(k - 1), 0)
    same(
        O.sliding_window(df, ["v"], size=k, aggs={"s": F.sum("x")}).select("v", "x", "s"),
        df.select("v", "x", F.sum("x").over(back).alias("s")).filter(F.col("v") >= k - 1),
    )
    fwd = g.rowsBetween(0, k - 1)
    same(
        O.flat_window_partial(df, ["v"], size=k, aggs={"s": F.sum("x")}).select(
            "v", "x", "window_size", "s"
        ),
        df.select(
            "v", "x",
            F.count(F.lit(1)).over(fwd).alias("window_size"),
            F.sum("x").over(fwd).alias("s"),
        ),
    )


def test_sliding_window_partial_tail(spark, par):
    df = spark.range(10).withColumnRenamed("id", "v")
    out = O.sliding_window(df, ["v"], 4, {"c": F.count("*")}, partial_tail=True).collect()
    assert len(out) == 10
    by_v = {r["v"]: r["c"] for r in out}
    assert by_v[0] == 1 and by_v[2] == 3 and by_v[9] == 4


def test_disjoint_window_blocks(spark, par):
    df = _ints(spark, 100)
    out = O.disjoint_window(df, ["v"], 30, {"n": F.count("*"), "s": F.sum("v")}).orderBy(
        "window_id"
    ).collect()
    assert [r["n"] for r in out] == [30, 30, 30, 10]
    assert out[0]["s"] == sum(range(30))


def test_reduce_to_index_fills_holes(spark, par):
    df = spark.createDataFrame([(0, 5.0), (0, 3.0), (3, 1.0)], ["i", "x"])
    out = O.reduce_to_index(df, "i", 5, {"s": F.sum("x")}, {"s": 0.0}).orderBy("i").collect()
    assert [r["s"] for r in out] == [8.0, 0.0, 0.0, 1.0, 0.0]


def test_merge_sorted(spark, par):
    a = spark.range(0, 10, 2).withColumnRenamed("id", "v")
    b = spark.range(1, 10, 2).withColumnRenamed("id", "v")
    out = O.merge_sorted([a, b], ["v"]).collect()
    assert [r["v"] for r in out] == list(range(10))


def test_concat_preserves_order(spark, par):
    a = spark.range(3).withColumnRenamed("id", "v")
    b = spark.range(100, 103).withColumnRenamed("id", "v")
    out = O.concat([a, b], [["v"], ["v"]]).orderBy("_idx").collect()
    assert [r["v"] for r in out] == [0, 1, 2, 100, 101, 102]


def test_prefix_scan_min_max_product(spark):
    """Generalized prefix scan: running min / max must match a serial
    fold at any partitioning."""
    from pyspark.sql import functions as F

    from thrill_spark import ordering as O

    vals = [5, 3, 8, 1, 9, 2, 7, 4, 6, 0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["k", "v"]
    ).repartition(4)
    mn = O.prefix_scan(df, ["k"], "v", F.min, F.least, name="rmin").orderBy("k").collect()
    expect_min, cur = [], None
    for v in vals:
        cur = v if cur is None else min(cur, v)
        expect_min.append(cur)
    assert [r["rmin"] for r in mn] == expect_min
    mx = O.prefix_scan(df, ["k"], "v", F.max, F.greatest, name="rmax").orderBy("k").collect()
    expect_max, cur = [], None
    for v in vals:
        cur = v if cur is None else max(cur, v)
        expect_max.append(cur)
    assert [r["rmax"] for r in mx] == expect_max
    sm = O.prefix_scan(df, ["k"], "v", F.sum, lambda a, b: a + b, name="rsum").orderBy("k").collect()
    import itertools
    assert [r["rsum"] for r in sm] == list(itertools.accumulate(vals))


def test_prefix_scan_generic_fold_no_sniffing(spark):
    """Composite combines must fold correctly via the one-job
    F.aggregate path (the old _jc string-sniff would have matched '+'
    in least(a,b)+0 and silently summed)."""
    from pyspark.sql import functions as F

    from thrill_spark import ordering as O

    vals = [5, 3, 8, 1, 9, 2, 7, 4, 6, 0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["k", "v"]
    ).repartition(4)
    out = (
        O.prefix_scan(df, ["k"], "v", F.min, lambda a, b: F.least(a, b) + F.lit(0), name="rmin")
        .orderBy("k")
        .collect()
    )
    expect, cur = [], None
    for v in vals:
        cur = v if cur is None else min(cur, v)
        expect.append(cur)
    assert [r["rmin"] for r in out] == expect


def test_with_index_broadcast_offsets_above_threshold(spark):
    """Past OFFSET_LITERAL_MAX partitions the pid->offset carry must
    ride in as a broadcast join, not an inline literal map, so plan
    size stays O(1) in partition count — and values stay identical."""
    from thrill_spark import ordering as O

    df = spark.range(500).withColumnRenamed("id", "v")
    base = {r["v"]: r["_idx"] for r in O.with_index(df, ["v"]).collect()}
    old = O.OFFSET_LITERAL_MAX
    O.OFFSET_LITERAL_MAX = 1
    try:
        idf = O.with_index(df, ["v"])
        plan = idf._jdf.queryExecution().executedPlan().toString()
        assert "map_from" not in plan and "keys: [" not in plan
        assert "Broadcast" in plan
        joined = {r["v"]: r["_idx"] for r in idf.collect()}
    finally:
        O.OFFSET_LITERAL_MAX = old
    assert joined == base


def test_release_persisted_clears_cache(spark):
    from thrill_spark import ordering as O

    O.release_persisted()
    df = spark.range(100).withColumnRenamed("id", "v")
    O.with_index(df, ["v"]).count()
    assert len(O._live_persists) >= 1
    O.release_persisted()
    assert not O._live_persists


# ---------------------------------------------------------------------------
# _leading_numeric_key detection (the explicit-bucket gate): bare
# columns qualify (by name or bare F.col), while .desc()/expressions/
# aliased-expressions fall back to the legacy path (None).
# ---------------------------------------------------------------------------
def test_leading_numeric_key_detection(spark):
    df = spark.range(10).select(
        F.col("id").alias("v"), F.col("id").cast("string").alias("s")
    )
    assert O._leading_numeric_key(df, ["v"]) is not None
    assert O._leading_numeric_key(df, [F.col("v")]) is not None
    # string-typed leading key -> legacy
    assert O._leading_numeric_key(df, ["s"]) is None
    # sort-order / expression / alias-shadowing keys -> legacy
    assert O._leading_numeric_key(df, [F.col("v").desc()]) is None
    assert O._leading_numeric_key(df, [F.col("v") + 1]) is None
    assert O._leading_numeric_key(df, [(F.col("v") * 2).alias("v")]) is None
    # a desc key still produces a CORRECT (legacy-path) result
    out = O.with_index(df, [F.col("v").desc()]).orderBy("_idx").collect()
    assert [r["v"] for r in out] == list(range(9, -1, -1))


def test_boundary_sampling_memoized(spark, monkeypatch):
    """VERDICT-r3 #8: the explicit-bucket path's fixed cost is ONE
    percentile_approx sampling job per (plan, key, buckets) — repeat
    ordered ops over the same source must hit _boundary_cache, not
    re-sample (the ~0.1-0.3 s/op constant the r3 bench traded a wide
    shuffle for; creep here is a silent bench regression)."""
    import pyspark.sql.functions as _F

    df = spark.range(5000).select(F.col("id").alias("v"))
    calls = {"n": 0}
    real = _F.percentile_approx

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(O.F, "percentile_approx", counting)
    O._boundary_cache.clear()
    O.with_index(df, ["v"]).count()
    first = calls["n"]
    assert first <= 1
    O.with_index(df, ["v"]).count()
    assert calls["n"] == first, "boundary sampling re-ran despite memo"
    O.release_persisted()
    spark.catalog.clearCache()
