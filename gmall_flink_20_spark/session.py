"""SparkSession factory.

One place for every config knob so local tests, the driver's verify, and
``bench.py`` all run the same engine. Defaults are tuned for the local[NN]
single-JVM harness but chosen to be the *right* defaults on a real
multi-executor cluster too:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
- explicit ``spark.sql.shuffle.partitions`` (overridable via env)
- UTC session timezone so naive parquet timestamps hash identically to the
  DuckDB oracle
- ``nanosAsLong`` so the driver's nanosecond-precision ``events`` parquet is
  readable (Spark has no ns timestamp type; ``io.load_table`` converts)
- Arrow enabled for the Pandas-UDF slow path
- a whole-stage codegen cache that holds the registry's working set.
  Spark keeps compiled classes in an LRU of
  ``spark.sql.codegen.cache.maxEntries`` (default 100). A workload that
  cycles through more distinct classes than an LRU holds misses on every
  access: each class is evicted before it comes round again, so every
  pass pays Janino compilation and then the JVM's JIT for the fresh
  classes. One pass of the 14 reference analytics over 100k events
  compiles about 145 classes cold and, at the default, 132 again on
  every repeat pass; with ``CODEGEN_CACHE_ENTRIES`` a repeat pass
  compiles none. One cold pass over the whole registry generates 4,130
  distinct classes. The conf is static: it only takes effect on a
  session created here.
- streaming checkpoints committed through ``FileSystem.rename``
  (``CHECKPOINT_FILE_MANAGER``). Spark's default manager goes through
  FileContext, whose rename on ``file:`` without libhadoop forks a
  ``readlink`` for its source and another for its destination: about
  1,230 processes per replay of 20k events, most of them on state-store
  deltas. The FileSystem manager's ``File.renameTo`` forks nothing, and
  the concurrent-writer guarantees are the same. FileContext's
  rename-if-absent on ``file:`` is itself check-then-rename (it looks up
  the destination, throws if it exists, else calls
  ``RawLocalFileSystem.rename``), so the FileSystem manager's
  ``exists`` then ``rename`` opens no new window. Both refuse a second
  non-overwriting atomic create on close with a Hadoop
  ``FileAlreadyExistsException`` (so a second query on one checkpoint
  still fails), and both keep ``.crc`` checksums.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


# Compiled classes kept by Spark's codegen cache: about twice the 4,130
# distinct classes one pass over the whole registry generates.
CODEGEN_CACHE_ENTRIES = 8192

# Commits offsets, commits and state-store files with FileSystem.rename,
# which forks no shell on a local disk (see docstring).
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "gmall_flink_20_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the shared SparkSession."""
    if master is None:
        master = f"local[{_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The driver's events table stores TIMESTAMP(NANOS) which Spark has
        # no native type for; older Sparks read it as long via this legacy
        # conf, newer ones ignore the conf and read TIMESTAMP_NTZ —
        # io._normalize_events handles both representations.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow transfer for the Pandas-UDF/applyInPandas slow path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small-dim broadcast threshold: generous — dims here are tiny, and
        # at 100 TB the dims (nation/region/part) still fit comfortably.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static conf: sized to the registry's working set (see docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
