"""Checkpoint recovery: a stateful streaming query stopped mid-input and
restarted from its checkpoint produces exactly the batch answer — no
lost and no duplicated decisions (exactly-once within the sink table)."""

from __future__ import annotations

import shutil
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import functions as F

from gmall_flink_20_spark.io import load_events
from gmall_flink_20_spark.operators import blacklist as bl
from gmall_flink_20_spark.streaming import stateful


def _write_chunk(df, path: Path, j: int, mtime: int):
    import os

    tmp = path.parent / f"tmp_{uuid.uuid4().hex[:6]}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    for f in tmp.glob("*.parquet"):
        dst = path / f"{j:05d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp)


def test_blacklist_stream_recovers_from_checkpoint(spark, sf_dir):
    clicks = (
        load_events(spark, sf_dir)
        .filter((F.col("event_type") == "click") & (F.col("user_id") < 5))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day_str"),
        )
        .orderBy("ts_s")
    )
    rows = clicks.collect()
    half = len(rows) // 2
    schema = clicks.schema

    base = Path(tempfile.mkdtemp(prefix="recov_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    # phase 1: only the first half visible
    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.blacklist_stream(stream, threshold=3)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # processes half, commits offsets + state to the checkpoint

    # phase 2: the rest arrives; restart the SAME query from the checkpoint
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    kept_exp, warn_exp = bl.daily_threshold_split(
        load_events(spark, sf_dir).filter(
            (F.col("event_type") == "click") & (F.col("user_id") < 5)
        ),
        ["user_id"],
        "ts",
        3,
        "event_id",
    )
    kept_ids = sorted(r.event_id for r in kept_exp.collect())
    got_kept = sorted(got[got["out_type"] == "kept"]["event_id"].tolist())
    assert got_kept == kept_ids  # exactly once: nothing lost, nothing doubled
    warn_keys = sorted((r.user_id, r.day_str) for r in warn_exp.collect())
    got_warn = sorted(
        map(tuple, got[got["out_type"] == "warning"][["user_id", "day_str"]].values.tolist())
    )
    assert got_warn == warn_keys


def test_funnel_stream_recovers_from_checkpoint(spark, sf_dir):
    """Stop the stateful funnel mid-input, restart from the checkpoint,
    and the per-user emissions must aggregate to the batch counts —
    buffered GroupState (chained minima + undecided rows) survives the
    restart, and the exactly-once emission contract holds across it."""
    from datetime import datetime, timezone

    from gmall_flink_20_spark.operators import analytics

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "event_type",
            "ts",
        )
        .orderBy("ts_s")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema
    max_ts = max(r.ts_s for r in rows)

    def sentinel(days):
        t = datetime.fromtimestamp(max_ts + days * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )
        return (-1, 10**12 + days, max_ts + days * 86400, "noop", t)

    base = Path(tempfile.mkdtemp(prefix="recov_funnel_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def run_once():
        # B is part of the on-disk state layout: pin it in the checkpoint
        # so the resume leg provably runs the same shard count
        b = stateful.pin_state_buckets(ckpt)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.funnel_stream(
                stream.withWatermark("ts", "60 seconds"),
                horizon_s=86400,
                key_buckets=b,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    _write_chunk(spark.createDataFrame([sentinel(30)], schema), src, 2, 1_000_000_002)
    _write_chunk(spark.createDataFrame([sentinel(60)], schema), src, 3, 1_000_000_003)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    assert got["user_id"].is_unique  # exactly one emission per key
    batch = {
        r.step: r.users
        for r in analytics.funnel(
            spark.createDataFrame(rows, schema).select("user_id", "ts_s", "event_type"),
            ["view", "click", "purchase"],
            horizon_s=86400,
            time_col="ts_s",
        ).collect()
    }
    assert batch == {
        1: int(got["s0_s"].notna().sum()),
        2: int(got["s1_s"].notna().sum()),
        3: int(got["s2_s"].notna().sum()),
    }


def test_login_fail_stream_recovers_from_checkpoint(spark, sf_dir):
    """VERDICT r5 item 7: kill the buffering login-fail detector mid-
    replay at a checkpoint, restart, and the pair set must equal the
    batch oracle — buffered undecided rows and the last-fail scalar
    survive the restart with no lost or duplicated pairs."""
    from gmall_flink_20_spark.operators import patterns

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "event_type",
            "ts",
        )
        .orderBy("ts_s")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema

    base = Path(tempfile.mkdtemp(prefix="recov_login_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.login_fail_pairs_stream(
                stream.withWatermark("ts", "2 seconds"), max_gap_s=7200
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    full = spark.createDataFrame(rows, schema)
    # decided prefix: the final watermark is max(ts) - 2s; pairs whose
    # last fail is at/above it are still buffered (undecidable at EOF)
    wm_s = max(r.ts_s for r in rows) - 2
    exp = (
        patterns.consecutive_event_pairs(
            full, "user_id", "ts", "event_type", "error", 7200, "event_id"
        )
        .filter(F.col("last_fail_s") < wm_s)
        .toPandas()
    )
    key = ["user_id", "first_fail_s", "last_fail_s"]
    got_set = set(map(tuple, got[key].to_numpy().tolist()))
    exp_set = set(map(tuple, exp[key].to_numpy().tolist()))
    assert got_set == exp_set and len(got) == len(got_set)  # no dupes


def test_order_timeout_stream_recovers_from_checkpoint(spark, sf_dir):
    """Kill-and-resume for the pending-order state machine: pendings
    opened before the stop must still resolve (payed or timeout) after
    the restart, exactly once each."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "event_type",
            "ts",
        )
        .orderBy("ts_s")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema

    base = Path(tempfile.mkdtemp(prefix="recov_order_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.order_timeout_stream(
                stream.withWatermark("ts", "2 seconds"), horizon_s=7200
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    # exactly-once resolution: each create id resolves at most once
    assert got["create_id"].is_unique
    # every view whose deadline passed the final watermark has resolved
    wm_s = max(r.ts_s for r in rows) - 2
    views = [
        (r.user_id, r.event_id, r.ts_s)
        for r in rows
        if r.event_type == "view" and r.ts_s + 7200 <= wm_s
    ]
    resolved = set(got["create_id"].tolist())
    missing = [v for v in views if v[1] not in resolved]
    assert not missing, missing[:5]


def test_rate_anomaly_stream_recovers_from_checkpoint(spark, sf_dir):
    # the last GroupState family without a kill-resume case: open hourly
    # buckets + the trailing-history ring must survive a restart — a
    # bucket spanning the kill point must finalize exactly once with the
    # z-score computed against the SAME history as an uninterrupted run
    from datetime import datetime, timezone

    from gmall_flink_20_spark.operators import analytics

    ev = (
        load_events(spark, sf_dir)
        .select("event_type", F.col("ts").cast("long").alias("ts_s"), "ts")
        .orderBy("ts_s")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema
    max_ts = rows[-1]["ts"]
    cutoff_s = int(max_ts.replace(tzinfo=timezone.utc).timestamp()) + 86400

    def sentinel(days):
        future = datetime.fromtimestamp(
            max_ts.replace(tzinfo=timezone.utc).timestamp() + days * 86400,
            tz=timezone.utc,
        ).replace(tzinfo=None)
        return spark.createDataFrame(
            [("noop", int(future.replace(tzinfo=timezone.utc).timestamp()), future)],
            schema,
        )

    base = Path(tempfile.mkdtemp(prefix="recov_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.rate_anomaly_stream(
                stream.withWatermark("ts", "2 seconds"), bucket_s=3600, trailing=24
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # half the stream: open buckets + ring live in the checkpoint

    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    _write_chunk(sentinel(30), src, 2, 1_000_000_002)
    _write_chunk(sentinel(31), src, 3, 1_000_000_003)
    run_once()  # restart from checkpoint; sentinels flush the last buckets

    got = (
        spark.read.parquet(out_dir)
        .filter((F.col("bucket_end_s") < cutoff_s) & (F.col("event_type") != "noop"))
        .toPandas()
    )
    exp = analytics.rate_anomaly(
        load_events(spark, sf_dir), bucket_s=3600, trailing=24
    ).toPandas()
    key = ["event_type", "bucket_end_s"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp[got.columns].sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s)  # exactly once: no lost/doubled buckets
    assert got_s[key + ["cnt", "is_anomaly"]].equals(exp_s[key + ["cnt", "is_anomaly"]])
    assert (got_s["zscore"] - exp_s["zscore"]).abs().max() <= 1e-9
    assert (got_s["mean_trailing"] - exp_s["mean_trailing"]).abs().max() <= 1e-9


def test_pin_state_buckets_rejects_layout_change(tmp_path):
    """ADVICE r6: STATE_BUCKETS participates in the state-store grouping
    key, so resuming a checkpointed query with a different B (or flipping
    bucketed <-> per-user) would strand live per-user state under old
    shard keys. The pin records B on first use and fails fast on any
    mismatch instead of silently losing/duplicating emissions."""
    import pytest

    ckpt = str(tmp_path / "ckpt")
    assert stateful.pin_state_buckets(ckpt, 8) == 8
    # same B resumes fine (and returns the pinned value)
    assert stateful.pin_state_buckets(ckpt, 8) == 8
    with pytest.raises(ValueError, match="STATE_BUCKETS=8"):
        stateful.pin_state_buckets(ckpt, 16)
    with pytest.raises(ValueError, match="strand"):
        stateful.pin_state_buckets(ckpt, 0)  # per-user layout flip


def test_scd2_stream_recovers_from_checkpoint(spark, sf_dir):
    """Kill-and-resume for the SCD2 interval builder: islands frozen
    before the stop must carry across the restart — the final per-user
    emission must equal the batch gaps-and-islands build exactly."""
    from gmall_flink_20_spark.operators.analytics import scd2_intervals

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_type",
            "ts",
        )
        .orderBy("ts_us")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema

    base = Path(tempfile.mkdtemp(prefix="recov_scd2_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.scd2_stream(stream.withWatermark("ts", "660 seconds"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    # the latest emission per user is the one with the most events
    # (totals strictly grow: an emission only happens on new arrivals)
    got["_total"] = got["n_events"].map(
        lambda s: sum(int(x) for x in s.split(","))
    )
    latest = got.sort_values("_total").groupby("user_id").tail(1)
    stream_iv = set()
    for _, r in latest.iterrows():
        states = r["states"].split("|")
        froms = [int(x) for x in r["from_us"].split(",")]
        ns = [int(x) for x in r["n_events"].split(",")]
        for st, fr, n in zip(states, froms, ns):
            stream_iv.add((int(r["user_id"]), st, fr, n))
    batch = scd2_intervals(
        load_events(spark, sf_dir).filter(F.col("user_id") < 40)
    ).collect()
    batch_iv = {
        (r.user_id, r.state, r.valid_from_us, r.n_events) for r in batch
    }
    assert stream_iv == batch_iv


def test_temporal_join_stream_recovers_from_checkpoint(spark, sf_dir):
    """Kill-and-resume for the streaming temporal join: dim versions
    accumulated and facts buffered before the stop must survive the
    restart — every fact below the final watermark decides exactly
    once, matching the batch join row-set."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            "ts",
        )
        .orderBy("ts_us")
    )
    rows = ev.collect()
    half = len(rows) // 2
    schema = ev.schema

    base = Path(tempfile.mkdtemp(prefix="recov_tj_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.temporal_join_stream(stream.withWatermark("ts", "2 seconds"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    wm_us = max(r.ts_us for r in rows) - 2_000_000
    decidable = [
        r for r in rows if r.event_type == "purchase" and r.ts_us < wm_us
    ]
    # exactly-once across the restart: one output row per decidable
    # fact — nothing lost (pre-stop buffers carried over) and nothing
    # doubled (offsets + state recovered together)
    assert len(got) == len(decidable)
    # and each decision matches the batch rule: last non-purchase event
    # with ts at-or-before the purchase's ts (ts-only containment)
    per_user_hist = {}
    for r in rows:
        if r.event_type != "purchase":
            per_user_hist.setdefault(r.user_id, []).append(
                (r.ts_us, r.event_id, r.event_type)
            )
    got_map = {}
    for _, g in got.iterrows():
        got_map.setdefault((g.user_id, g.ts_us), []).append(g.state_at)
    for f in decidable:
        exp = None
        # ts-only containment — the batch join's valid_from_us <= ts_us
        # convention (ADVICE r8); same-ts versions resolve sorted-last
        for vt, _ve, vs in sorted(per_user_hist.get(f.user_id, [])):
            if vt <= f.ts_us:
                exp = vs
            else:
                break
        states = [
            None if (isinstance(x, float) and x != x) else x
            for x in got_map[(f.user_id, f.ts_us)]
        ]  # parquet NULL state_at reads back as NaN
        assert exp in states


def test_lsh_index_stream_recovers_from_checkpoint(spark, sf_dir):
    """Kill-and-resume for the continuous crawl-ingest dedup: the
    mid-stream state is the INDEX DIRECTORY itself (appended bands +
    shingles, outside the checkpoint) plus the upsert store; a restart
    must resume after the processed prefix and the final decisions must
    equal the batch keeper rule over the whole shard."""
    import tempfile

    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import dedup, sampling
    from gmall_flink_20_spark.streaming import topn as stopn

    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    base = docs.filter(shard != 0)
    new = docs.filter(shard == 0).select("doc_id", "text").orderBy("doc_id")
    rows = new.collect()
    half = len(rows) // 2
    schema = new.schema

    root = Path(tempfile.mkdtemp(prefix="recov_lsh_"))
    src = root / "src"
    src.mkdir()
    ckpt = str(root / "ckpt")
    idx = str(root / "index")
    dedup.lsh_index_write(base, idx)
    store = stopn.ParquetUpsertStore(str(root / "log"), "doc_id", "kept")

    def handle(batch, epoch_id):
        b = batch.persist()
        try:
            if b.count() == 0:
                return
            store.upsert(dedup.lsh_index_query_incremental(spark, idx, b), epoch_id)
            dedup.lsh_index_append(b, idx, f"b{epoch_id}")
        finally:
            b.unpersist()

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # id-ordered halves: chunk 0 = lower ids, chunk 1 = higher ids
    _write_chunk(spark.createDataFrame(rows[:half], schema), src, 0, 1_000_000_000)
    run_once()
    _write_chunk(spark.createDataFrame(rows[half:], schema), src, 1, 1_000_000_001)
    run_once()

    got = {
        (r.doc_id, r.kept) for r in store.snapshot(spark).collect()
    }
    exp = {(r.doc_id, r.kept) for r in dedup.neardup_incremental(docs).collect()}
    assert got == exp and len(got) == len(rows)
