"""File-replay micro-batch harness (SURVEY §5 plan item 3).

Replays a batch DataFrame as a Structured Streaming source by writing it
into N time-ordered parquet chunks and reading them back with
``maxFilesPerTrigger=1`` — each chunk becomes one micro-batch, so the
watermark advances chunk by chunk exactly like a live stream with bounded
disorder. This is how the reference's file-driven demos actually behave
(they replay CSVs through event-time operators).

``flush_sentinel`` appends one far-future row so event-time timers fire
for every pending key at end-of-input — replicating Flink's
watermark→+∞-at-EOF semantics that Spark lacks (see streaming/stateful.py
docstring).
"""

from __future__ import annotations

import contextlib
import logging
import os
import shutil
import uuid
from pathlib import Path

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir

__all__ = [
    "replay_stream",
    "run_to_completion",
    "run_foreach_batch",
    "flush_sentinel",
    "sentinel_pair",
]

log = logging.getLogger("gmall_flink_20_spark")


def _max_row(template_df: DataFrame, ts_col: str) -> dict:
    """The row holding max(ts) — ONE TakeOrdered job yields both the
    template row and the stream's maximum event time (the row with the
    max ts is itself a valid template), replacing the former separate
    max() + limit(1) jobs."""
    return (
        template_df.orderBy(F.col(ts_col).desc()).limit(1).collect()[0].asDict()
    )


def _sentinels_from(
    spark: SparkSession,
    template_df: DataFrame,
    row: dict,
    ts_col: str,
    days: tuple[int, ...],
    overrides: dict | None,
) -> list[DataFrame]:
    """One sentinel frame per entry of ``days``, all from ``row``."""
    from datetime import datetime, timezone

    rows = []
    for d in days:
        r = dict(row)
        future = datetime.fromtimestamp(
            row[ts_col].replace(tzinfo=timezone.utc).timestamp() + d * 86400,
            tz=timezone.utc,
        ).replace(tzinfo=None)
        r[ts_col] = future
        if "ts_s" in r:
            r["ts_s"] = int(future.replace(tzinfo=timezone.utc).timestamp())
        if "event_type" in r:
            r["event_type"] = "noop"  # inert: matches no operator branch
        if "event_id" in r:
            r["event_id"] = 10**12 + d
        if "user_id" in r:
            r["user_id"] = -1  # reserved sentinel key
        r.update(overrides or {})
        rows.append(r)
    # r14 (guide §4/§5: keep the driver out of the Python boundary): the
    # one-row frame is built as JVM LITERALS over range(1), not
    # createDataFrame([row]) — the latter parallelizes the row across
    # defaultParallelism PYTHON partitions, and the coalesce(1) parquet
    # write every replay does then serializes ~32 Python-worker
    # round-trips in one task (measured 5-6 s per sentinel write at
    # local[32]; the literal form writes in <0.2 s). Values are the same
    # row, cast to the template's exact types.
    fields = template_df.schema.fields
    try:
        return [
            spark.range(1).select(
                *[F.lit(r[f.name]).cast(f.dataType).alias(f.name) for f in fields]
            )
            for r in rows
        ]
    except SparkRuntimeException as e:
        if e.getCondition() != "UNSUPPORTED_FEATURE.LITERAL_TYPE":
            raise
    # a value Spark has no literal for (a struct or map): the
    # row-parallelize path, slow but exact
    log.warning(
        "flush sentinel: no literal for a column of %s; building %d "
        "sentinel(s) with createDataFrame (slow path)",
        template_df.schema.simpleString(),
        len(rows),
    )
    return [spark.createDataFrame([r], template_df.schema) for r in rows]


def flush_sentinel(
    spark: SparkSession,
    template_df: DataFrame,
    ts_col: str = "ts",
    days: int = 30,
    overrides: dict | None = None,
) -> DataFrame:
    """One-row inert frame at max(ts)+days — replayed as a trailing
    micro-batch it advances the watermark past every deadline so
    event-time timers fire deterministically (use two, ``days`` apart:
    the first moves the watermark, the second delivers the batch in
    which the now-expired timers run; or call ``sentinel_pair`` which
    builds both from a single scan).

    The sentinel lands on the RESERVED key ``user_id = -1`` (when the
    frame has a user_id column) rather than cloning an arbitrary real
    key's id, so no real key's timer path depends on receiving sentinel
    data — every real key's expired timers fire through the watermark
    (hasTimedOut) path. ``overrides`` force other columns (e.g. the key
    column of a differently-keyed stream) onto reserved values."""
    row = _max_row(template_df, ts_col)
    (s,) = _sentinels_from(spark, template_df, row, ts_col, (days,), overrides)
    return s


def sentinel_pair(
    spark: SparkSession,
    template_df: DataFrame,
    ts_col: str = "ts",
    days: tuple[int, int] = (30, 31),
    overrides: dict | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Both flush sentinels plus the result cutoff from ONE scan.

    Returns ``(s1, s2, cutoff_s)`` where ``cutoff_s = max(ts) + 86400``
    in epoch seconds — the filter bound callers use to drop the
    sentinels' own far-future windows from materialized results. Doing
    all three from a single TakeOrdered job replaces the former pattern
    of five jobs per streaming query (2×max + 2×limit + a cutoff scan)."""
    from datetime import timezone

    row = _max_row(template_df, ts_col)
    cutoff_s = (
        int(row[ts_col].replace(tzinfo=timezone.utc).timestamp()) + 86400
    )
    s1, s2 = _sentinels_from(spark, template_df, row, ts_col, days, overrides)
    return s1, s2, cutoff_s


def replay_stream(
    spark: SparkSession,
    batch_df: DataFrame,
    ts_col: str,
    num_chunks: int = 8,
    extra_chunks: list[DataFrame] | None = None,
    disorder_s: int = 0,
) -> DataFrame:
    """Write ``batch_df`` as ``num_chunks`` time-ordered parquet files and
    return a streaming DataFrame replaying them one file per trigger.

    ``extra_chunks``: frames appended as individual trailing micro-batches
    — used for flush sentinels (two far-future one-row chunks let the
    watermark first advance past every deadline and then deliver one more
    batch in which the expired timers actually fire).

    ``disorder_s`` > 0 replays with BOUNDED OUT-OF-ORDERNESS: each row's
    replay position is its event time plus a deterministic (md5 of
    event_id) offset in [-disorder_s, +disorder_s), so later chunks carry
    earlier event times — a live stream with bounded disorder. The event
    time regression between arrivals is < 2·disorder_s; consumers must
    watermark with at least that delay or Spark drops the late rows.

    Chunking is EXECUTOR-SIDE: a ``repartitionByRange`` on the replay
    position writes one parquet file per range partition, so the harness
    never collects the input to the driver and replays frames larger
    than driver memory. Range partitioning guarantees every row in chunk
    j replays no later than any row in chunk j+1 (the property the
    watermark progression needs); within-chunk order is irrelevant —
    rows inside one micro-batch are a set, and the watermark only
    advances between batches. Chunk sizes are range-sampled rather than
    exactly equal-count; micro-batch COUNT, not size balance, is the
    contract."""
    # staged under the session scratch root, which is removed at exit
    src = Path(scratch_dir("replay_")) / "src"
    src.mkdir()
    schema = batch_df.schema

    if disorder_s:
        # same offset formula as the documented contract above: md5 of
        # the stringified event id, first 8 hex chars, mod 2d shifted to
        # [-d, +d) — computed in the JVM, never on the driver
        eid = (
            F.col("event_id").cast("string")
            if "event_id" in batch_df.columns
            else F.lit("0")
        )
        h = F.conv(F.substring(F.md5(eid), 1, 8), 16, 10).cast("long")
        off = (h % F.lit(2 * disorder_s) - F.lit(disorder_s)).cast("int")
        rpos = F.timestamp_add("SECOND", off, F.col(ts_col))
    else:
        rpos = F.col(ts_col)

    data_dir = src / "data"
    (
        batch_df.withColumn("_rpos", rpos)
        .repartitionByRange(num_chunks, "_rpos")
        .drop("_rpos")  # narrow projection: partitioning survives
        .write.mode("overwrite")
        .parquet(str(data_dir))
    )

    flat = src / "flat"
    flat.mkdir()
    base_mtime = 1_000_000_000  # fixed epoch; only relative order matters
    # part-00000..part-N are emitted in range-partition order (empty
    # ranges emit no file), so filename sort == replay-position order
    data_files = sorted(data_dir.glob("part-*"))
    for j, extra in enumerate(extra_chunks or []):
        extra.select(*schema.fieldNames()).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"extra_{j:05d}")
        )
        data_files += sorted((src / f"extra_{j:05d}").glob("part-*"))
    for j, f in enumerate(data_files):
        dst = flat / f"{j:05d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders by modification time with unstable
        # ties; stamp strictly increasing mtimes so micro-batch order
        # is exactly chunk order (otherwise a later-sorted data chunk
        # can arrive after a flush sentinel and be late vs watermark).
        os.utime(dst, (base_mtime + j, base_mtime + j))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(flat))
    )


# Registry replays split the corpus into this many time-ordered
# micro-batches (plus flush sentinels). Each micro-batch pays a fixed
# cost per STATEFUL KEY (an Arrow round-trip into the Python state fn
# for every key with data or an expired timer), so batch count is the
# dominant replay cost at SF scale: measured events_funnel_streaming at
# sf0.1: 8 chunks 21.9 s, 5 chunks 14.5 s, 4 chunks 10.0 s — identical
# output (gates compare final output, which is chunking-invariant).
# 5 keeps multiple watermark advances (+ disorder overlap) in play while
# shedding ~a third of the harness cost. A production stream has no such
# knob — micro-batch cadence is the trigger interval.
REPLAY_CHUNKS = 5

# Adaptive chunks (VERDICT r5 item 3's remaining lever): the four
# user/key-dense GroupState replays (funnel, login-fail, order-timeout,
# rate-anomaly) pay |state groups| Arrow round-trips PER micro-batch on
# top of the per-batch floor, so batch count is worth strictly more to
# them than to the windowed-agg replays — they take one fewer chunk.
# Output is chunking-invariant (same oracle gates; funnel measured
# identical at 8/5/4 chunks), and the disorder window still spans
# multiple chunks at 4.
REPLAY_CHUNKS_HEAVY = 4

# State partitions while a bounded replay runs (see replay_shuffle).
REPLAY_SHUFFLE_PARTITIONS = 8


@contextlib.contextmanager
def replay_shuffle(spark):
    """Temporarily shrink ``spark.sql.shuffle.partitions`` while a bounded
    replay runs (restored on exit). The state-store partition count is
    fixed per streaming query at start, and EVERY micro-batch pays a
    Python-worker round per state partition — at replay scale (SF-sized
    chunks, 8-10 micro-batches) 32 partitions is ~4× pure overhead
    (measured: events_funnel_streaming 76 s → 38 s at 8). This is a
    harness knob, not semantics: results are partition-count-invariant,
    and a production deployment sizes the SAME knob to its cluster."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(REPLAY_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_completion(stream_out: DataFrame, name: str | None = None) -> DataFrame:
    """Run a streaming DataFrame to a memory sink until all replayed input
    is processed; return the sink contents as a batch DataFrame."""
    qname = name or f"replay_{uuid.uuid4().hex[:8]}"
    spark = stream_out.sparkSession
    with replay_shuffle(spark):
        q = (
            stream_out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


def run_foreach_batch(stream: DataFrame, handle) -> None:
    """Run a streaming DataFrame through ``handle(batch, epoch_id)``
    until all replayed input is processed — the foreachBatch twin of
    ``run_to_completion`` for replays that write their own sinks."""
    with replay_shuffle(stream.sparkSession):
        q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
        q.awaitTermination()
