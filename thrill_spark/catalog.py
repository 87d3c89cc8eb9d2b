"""Table catalog over the driver-generated parquet fixtures.

Thrill reads raw files per worker byte-range (thrill/api/read_lines.hpp,
read_binary.hpp); here the scan layer is Spark's parquet source, which
gives predicate pushdown, column pruning, and split planning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """Session-scoped scratch path for write-then-read-back queries.

    The pre-r12 fixed paths (/tmp/thrill_spark_<tag>) collided across
    concurrent sessions: two processes running the same roundtrip
    query (e.g. a validation sweep next to the test suite) raced each
    other's overwrite, and with different sf_dirs one could read the
    other's output as a silent row-count MISMATCH. Scoping by
    applicationId makes each Spark session's scratch private while
    staying stable within the session (bench re-runs overwrite their
    own files). The whole scratch tree is removed at interpreter exit
    (atexit) so repeated sessions don't accumulate in the temp dir; a
    hard-killed process leaves its dir for the OS temp policy."""
    import tempfile

    from thrill_spark.session import scratch_local_dir

    app = spark.sparkContext.applicationId
    # Follow the same scratch tier as spark.local.dir (the opt-in
    # SPARK_GRAFT_LOCAL_DIR override; system temp otherwise): scratch
    # holds per-session write-then-read-back artifacts only — private
    # per applicationId, removed at exit — so this changes WHERE temp
    # bytes live, never what any query computes.
    base = scratch_local_dir() or tempfile.gettempdir()
    root = os.path.join(base, f"thrill_spark_scratch-{app}")
    if app not in _scratch_cleanup_registered:
        import atexit
        import shutil

        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _scratch_cleanup_registered.add(app)
    return os.path.join(root, tag)


_scratch_cleanup_registered: set[str] = set()


# ---------------------------------------------------------------------------
# Scan-spread (r14 optimization, guide §2.5 "input skew" / §6): the
# fixture tables are single-file, single-row-group parquet — an
# UNSPLITTABLE scan, so every per-row transform downstream of a bare
# read (tokenize/shingle/minhash/decimal aggregation) runs in ONE task
# regardless of cluster size. A round-robin repartition immediately
# after the read costs one exchange of the pruned+filtered columns
# (predicate pushdown and column pruning pass through Repartition —
# verified in plans/r14/*_after.txt) and parallelizes everything up to
# the first natural shuffle. The spread is scale-adaptive, not a local
# tuning constant: the target is the session's default parallelism and
# it only fires when the scan's actual split count is BELOW that — on
# a production table of many splittable files the branch is a no-op.
# Tiny dimension tables (region/nation/supplier/part/customer, under
# _SPREAD_MIN_BYTES) stay bare: an exchange there is pure overhead.
# ---------------------------------------------------------------------------
# Spread spec: table -> hash key column. Keyed (RepartitionByExpression)
# rather than round-robin: round-robin pays a LOCAL SORT of the full
# row before exchanging (spark.sql.execution.sortBeforeRepartition,
# needed for retry determinism) — measured +1.5 s serialized into the
# single scan task on lineitem; hashing the table's primary key is
# deterministic under retries for free and costs one cheap expression.
# Keys are the tables' dominant join/agg keys, so downstream ops keyed
# the same way can reuse the exchange (guide §2.4).
#
# The spread is OPT-IN per call site (load_table(..., spread=True)),
# not blanket: a one-JVM alternating A/B of spread on vs off (pass
# min-of-3 at sf0.1) showed the win is specific to queries with heavy
# per-row compute between the scan and the first natural shuffle
# (tokenize/shingle/regex/decimal-agg: ratios 0.46-0.77), while
# queries that shuffle immediately, feed per-task-memoized Python
# kernels, or read a tiny filtered slice pay the extra exchange for
# nothing (ratios 1.2-2.1 — e.g. flatmap_wordcount 2.07, dedup_exact
# 1.87, suffix_fm_decontaminate's 8-row probe read 1.18). `embeddings`
# has no entry: its 2k heavy vector rows feed driver-sampled trainers
# and per-task-memoized kernels where a 32-way spread multiplied init
# cost (measured: similarity_pq_ann 3.6 -> 7.6 s).
_SPREAD_KEYS = {
    "documents": "doc_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "customer": "c_custkey",
}
_SPREAD_MIN_BYTES = 512 * 1024
# scan split counts are layout metadata, not results: memoized per
# (session, path) so repeated load_table calls don't replan the probe
_scan_parts_cache: dict[tuple[str, str], int] = {}


def _spread_scan(
    spark: SparkSession, df: DataFrame, path: str, name: str
) -> DataFrame:
    key_col = _SPREAD_KEYS.get(name)
    if key_col is None:
        return df
    try:
        size = os.path.getsize(path) if os.path.isfile(path) else sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except OSError:
        return df
    if size < _SPREAD_MIN_BYTES:
        return df
    p = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, path)
    n = _scan_parts_cache.get(key)
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
        _scan_parts_cache[key] = n
    if n >= p:
        return df
    return df.repartition(p, F.col(key_col))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark
        # runtime this reads either natively as TIMESTAMP_NTZ (truncated
        # to micros) or — under spark.sql.legacy.parquet.nanosAsLong —
        # as raw int64 nanos. Branch on the dtype actually read so both
        # runtimes yield the same schema: ts TIMESTAMP (micros, UTC),
        # ts_ns BIGINT (nanosecond epoch, matching DuckDB's ns read
        # modulo sub-microsecond truncation).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(table_path(sf_dir, name))
        if spread:
            df = _spread_scan(spark, df, table_path(sf_dir, name), name)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        # Timestamp(_NTZ) read path: session timezone is UTC, so the
        # NTZ->TIMESTAMP cast is value-preserving.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType())).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
        )
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    return _spread_scan(spark, df, path, name) if spread else df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all fixture tables as temp views (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
