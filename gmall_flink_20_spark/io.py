"""Table loaders and source normalization.

Reference parity: the reference reads CSV fixtures line-by-line and parses
them positionally (``HotItemApp.java:40-49``, ``HotUrlApp.java:44-55``); we
read the driver's parquet tables (TESTDATA.md) through the DataFrame reader
so Catalyst gets column pruning + filter pushdown at the scan.

The ``events`` table is the stand-in for every reference event stream
(UserBehavior / ApacheLog / AdClickEvent / LoginEvent / OrderEvent): columns
``event_id, ts, user_id, event_type ∈ {click,view,purchase,signup,error},
value, props(json)``.

The events parquet stores TIMESTAMP(NANOS); Spark has no ns type, so the
session reads it as a long (``nanosAsLong``) and we rebuild a µs timestamp
here with *integer* division (a double division would lose precision at
1.7e18 ns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "TABLES",
    "load_table",
    "load_events",
    "register_views",
    "default_sf_dir",
    "fan_out_scan",
]

TABLES = [
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
]


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_conf(spark: SparkSession) -> None:
    """Make any caller-provided session able to read the test tables and
    hash-match the oracle: ns parquet readable, dates/windows in UTC.
    Runtime-settable SQL confs, so this works even when the caller
    (e.g. the verify driver) built a plain SparkSession. ``nanosAsLong``
    is gone in newer Sparks (ns parquet reads as TIMESTAMP_NTZ instead —
    ``_normalize_events`` handles both), so it's best-effort."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Resolved-plan cache: `spark.read.parquet` pays ~0.1 s of file listing
# + footer schema read over Py4J EVERY call — pure fixed overhead that
# dominates sub-second queries (measured: ~25% of a cheap query's wall
# time at sf0.1). The returned DataFrame is an immutable logical plan
# whose FileIndex Spark itself caches per instance, so reusing it per
# (session, dir, table) is exactly the catalog/metadata caching a real
# engine does. Keyed on the SparkSession object (a restarted session
# never sees plans bound to a dead JVM handle) AND on a cheap directory
# fingerprint (mtime+size of the .parquet path — ADVICE r8: a table
# regenerated at the same path within one session must invalidate its
# cached FileIndex, or the plan would read dropped files).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[tuple, DataFrame]] = {}
_CACHE_SESSION: list = [None]  # current session; reset drops old plans


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()
    _CACHE_SESSION[0] = None


def _dir_fingerprint(path: str) -> tuple:
    """Cheap identity for a parquet directory or single file: the
    target's own (mtime, size) plus a listing of its immediate
    children's (name, size, mtime), descending ONE extra level into
    child DIRECTORIES (partition subdirs like ``list_id=3/``). The
    two-level stat closes ADVICE r10's gap: an in-place CONTENT rewrite
    of a file nested inside a partition subdir changes neither the
    root's nor the subdir's mtime, but the rewritten file's own mtime —
    an entry of the second-level scandir here — moves. Residual
    limitation (documented, accepted): layouts nested DEEPER than one
    partition level (none in this repo — every partitioned artifact is
    single-key hive) would need the same treatment per extra level;
    entry add/replace at any depth still bumps its parent dir's mtime
    and is caught regardless."""

    def _scan(p: str, depth: int) -> tuple:
        entries: list[tuple] = []
        try:
            with os.scandir(p) as it:
                for e in it:
                    try:
                        est = e.stat()
                        sub = (
                            _scan(e.path, depth - 1)
                            if depth > 0 and e.is_dir()
                            else ()
                        )
                        entries.append((e.name, est.st_size, est.st_mtime_ns, sub))
                    except OSError:
                        entries.append((e.name, -1, -1, ()))
        except OSError:
            pass
        entries.sort()
        return tuple(entries)

    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    entries = _scan(path, 1) if os.path.isdir(path) else ()
    return (st.st_mtime_ns, st.st_size, entries)


def fan_out_scan(df: DataFrame, key: str) -> DataFrame:
    """Spread a scan across the cluster before CPU-heavy per-row work
    (optimization guide §2.5 "input skew", §8): the driver's tables are
    ONE single-row-group parquet file each, so every scan is a single
    task and all expression/Python-kernel work before the first exchange
    serializes on one core. Deterministic hash repartition on ``key``
    (never rand-derived — task retries must reproduce the assignment).

    Scale-adaptive, not a local[32] constant: when the scan already has
    at least the session's default parallelism worth of partitions (any
    real multi-split corpus at 100 TB), this returns the frame unchanged
    and no exchange is added. Used selectively on queries whose scan-side
    work is measured to dominate — an extra exchange is NOT free on
    queries whose first op is already a cheap aggregate."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # ADVICE r13: memoize the probe per DataFrame object — load_table
    # returns cached frames, so repeated queries skip both the
    # DataFrame→RDD lineage conversion (a functools.cached_property in
    # PySpark 4.x) and the per-call Py4J round-trip.
    nparts = df.__dict__.get("_fan_out_nparts")
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        df.__dict__["_fan_out_nparts"] = nparts
    if nparts >= target:
        return df
    return df.repartition(target, F.col(key))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table, normalizing types."""
    if _CACHE_SESSION[0] is not spark:
        _TABLE_CACHE.clear()
        _CACHE_SESSION[0] = spark
    key = (id(spark), sf_dir, name)
    fp = _dir_fingerprint(f"{sf_dir}/{name}.parquet")
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    _ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events(df)
    _TABLE_CACHE[key] = (fp, df)
    return df


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to a session-tz (UTC) TIMESTAMP whatever the
    reader produced for the TIMESTAMP(NANOS) parquet column:

    - older Sparks + ``nanosAsLong``: BIGINT ns → µs via ``ts DIV 1000``
      (integer division — a double division would lose precision at
      1.7e18 ns);
    - newer Sparks (no legacy conf): TIMESTAMP_NTZ with the ns value
      floor-truncated to µs — bit-identical to the DIV path (verified
      against DuckDB's ``epoch_ns(ts)//1000``); cast to LTZ so downstream
      ``cast("long")`` epoch-second floors keep working.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
