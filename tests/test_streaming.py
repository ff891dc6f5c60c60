"""Streaming ≡ batch equivalence (SURVEY §5 plan item 3): each streaming
operator, replayed over time-ordered micro-batches, must converge to the
batch operator's answer once the (sentinel-advanced) watermark passes."""

from __future__ import annotations

import re
import tempfile
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gmall_flink_20_spark.io import load_events
from gmall_flink_20_spark.operators import patterns, windows
from gmall_flink_20_spark.scratch import scratch_root
from gmall_flink_20_spark.streaming import replay, stateful
from gmall_flink_20_spark.streaming import windows as swindows


def far_future_row(spark, template_df, ts_col="ts", days=30):
    """One-row inert frame at max(ts)+days — a watermark flush sentinel."""
    max_ts = template_df.agg(F.max(ts_col)).collect()[0][0]
    row = template_df.limit(1).collect()[0].asDict()
    future = datetime.fromtimestamp(
        max_ts.replace(tzinfo=timezone.utc).timestamp() + days * 86400, tz=timezone.utc
    ).replace(tzinfo=None)
    row[ts_col] = future
    if "ts_s" in row:
        row["ts_s"] = int(future.replace(tzinfo=timezone.utc).timestamp())
    if "event_type" in row:
        row["event_type"] = "noop"  # inert: matches no operator branch
    if "event_id" in row:
        row["event_id"] = 10**12 + days
    return spark.createDataFrame([row], template_df.schema)


@pytest.fixture(scope="module")
def small_events(spark, sf_dir):
    # ~330 rows: enough structure, fast replay
    return load_events(spark, sf_dir).filter(F.col("user_id") < 5).cache()


def test_streaming_window_count_matches_batch(spark, small_events):
    clicks = small_events.filter(F.col("event_type") == "click").select("ts", "user_id")
    sentinel = far_future_row(spark, clicks)
    stream = replay.replay_stream(spark, clicks, "ts", num_chunks=6, extra_chunks=[sentinel])
    out = swindows.streaming_windowed_count(stream, "ts", "2 seconds", "1 hour", None, "user_id")
    got = replay.run_to_completion(out).toPandas()

    exp = windows.tumbling_count(clicks, "ts", "1 hour", "user_id").toPandas()
    sentinel_we = got["window_end_s"].max()
    got = got[got["window_end_s"] < sentinel_we]  # sentinel's own window never finalizes
    exp = exp[exp["window_end_s"].isin(got["window_end_s"])]

    key = ["window_end_s", "user_id", "cnt"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, exp[key].values.tolist())
    )
    # append mode emitted every closed window exactly once
    assert len(got) == got[["window_end_s", "user_id"]].drop_duplicates().shape[0]


def test_login_fail_stream_matches_batch_out_of_order(spark, small_events):
    """The replay is deliberately UNSORTED (bounded ±5 min disorder): the
    buffered GroupState implementation must still reproduce the batch
    lag-based answer exactly."""
    ev = small_events.select(
        "user_id", "event_id", F.col("ts").cast("long").alias("ts_s"), "event_type", "ts"
    )
    s1 = far_future_row(spark, ev, days=30)
    s2 = far_future_row(spark, ev, days=31)
    stream = replay.replay_stream(
        spark, ev, "ts", num_chunks=6, disorder_s=300, extra_chunks=[s1, s2]
    )
    out = stateful.login_fail_pairs_stream(
        stream.withWatermark("ts", "660 seconds"), max_gap_s=7200
    )
    got = replay.run_to_completion(out).toPandas()

    exp = patterns.consecutive_event_pairs(
        small_events, "user_id", "ts", "event_type", "error", 7200, "event_id"
    ).toPandas()
    cols = ["user_id", "first_fail_s", "last_fail_s"]
    assert sorted(map(tuple, got[cols].values.tolist())) == sorted(
        map(tuple, exp[cols].values.tolist())
    )


def test_order_timeout_stream_matches_batch(spark, small_events):
    ev = small_events.select(
        "user_id", "event_id", F.col("ts").cast("long").alias("ts_s"), "event_type", "ts"
    )
    s1 = far_future_row(spark, ev, days=30)
    s2 = far_future_row(spark, ev, days=31)
    stream = replay.replay_stream(spark, ev, "ts", num_chunks=6, extra_chunks=[s1, s2])
    wm = stream.withWatermark("ts", "2 seconds")
    out = stateful.order_timeout_stream(wm, horizon_s=7200)
    got = replay.run_to_completion(out).toPandas()

    exp = patterns.match_or_timeout(
        small_events, "user_id", "ts", "event_type", "view", "purchase", 7200, "event_id"
    ).toPandas()
    # drop the sentinel's own synthetic create if it produced one
    got = got[got["create_id"].isin(exp["create_id"])]
    g = sorted(map(tuple, got[["create_id", "status"]].values.tolist()))
    e = sorted(map(tuple, exp[["create_id", "status"]].values.tolist()))
    assert g == e


def test_replay_stages_under_scratch_root_and_leaves_tmp_clean(spark, small_events):
    tmp = Path(tempfile.gettempdir())
    before = set(tmp.glob("replay_*"))
    stream = replay.replay_stream(spark, small_events.select("event_id", "ts"), "ts", num_chunks=3)
    got = replay.run_to_completion(stream)
    assert got.count() == small_events.count()
    assert set(tmp.glob("replay_*")) == before
    plan = stream._jdf.queryExecution().analyzed().toString()
    (src,) = set(re.findall(r"FileSource\[([^\]]+)\]", plan))
    assert Path(src).is_relative_to(scratch_root())


def test_blacklist_stream_matches_batch(spark, small_events):
    clicks = small_events.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day_str"),
        "ts",
    )
    stream = replay.replay_stream(spark, clicks, "ts", num_chunks=6)
    out = stateful.blacklist_stream(stream.drop("ts"), threshold=3)
    got = replay.run_to_completion(out).toPandas()

    from gmall_flink_20_spark.operators import blacklist as bl

    kept, warn = bl.daily_threshold_split(
        small_events.filter(F.col("event_type") == "click"), ["user_id"], "ts", 3, "event_id"
    )
    kept_ids = sorted(r.event_id for r in kept.collect())
    got_kept = sorted(got[got["out_type"] == "kept"]["event_id"].tolist())
    assert got_kept == kept_ids
    warn_keys = sorted((r.user_id, r.day_str) for r in warn.collect())
    got_warn = sorted(
        map(tuple, got[got["out_type"] == "warning"][["user_id", "day_str"]].values.tolist())
    )
    assert got_warn == warn_keys


def test_streaming_sliding_window_count_matches_batch(spark, small_events):
    """WA7-style sliding windows (1h size / 10m slide) in append mode
    converge to the batch expansion once the watermark passes."""
    ev = small_events.select("ts", "event_type")
    sentinel = far_future_row(spark, ev)
    stream = replay.replay_stream(spark, ev, "ts", num_chunks=6, extra_chunks=[sentinel])
    out = swindows.streaming_windowed_count(
        stream, "ts", "2 seconds", "1 hour", "10 minutes", "event_type"
    )
    got = replay.run_to_completion(out).toPandas()

    exp = windows.windowed_count(ev, "ts", "1 hour", "10 minutes", "event_type").toPandas()
    sentinel_cut = got["window_end_s"].max() - 6 * 600  # sentinel's own windows
    got = got[got["window_end_s"] < sentinel_cut]
    exp = exp[exp["window_end_s"].isin(got["window_end_s"])]

    key = ["window_end_s", "event_type", "cnt"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, exp[key].values.tolist())
    )


def test_rate_anomaly_stream_matches_batch(spark, small_events):
    from gmall_flink_20_spark.operators.analytics import rate_anomaly

    # small trailing window so the tiny fixture produces scored buckets
    ev = small_events.select(
        "event_type", F.col("ts").cast("long").alias("ts_s"), "ts"
    )
    s1 = replay.flush_sentinel(spark, ev, days=30)
    s2 = replay.flush_sentinel(spark, ev, days=31)
    stream = replay.replay_stream(spark, ev, "ts", num_chunks=6, extra_chunks=[s1, s2])
    out = stateful.rate_anomaly_stream(
        stream.withWatermark("ts", "2 seconds"), bucket_s=3600, trailing=6
    )
    got = (
        replay.run_to_completion(out)
        .filter(F.col("event_type") != "noop")
        .toPandas()
    )
    cutoff = int(ev.agg(F.max("ts_s")).collect()[0][0]) + 86400
    got = got[got["bucket_end_s"] < cutoff]

    exp = rate_anomaly(
        small_events.select("event_type", "ts"), bucket_s=3600, trailing=6
    ).toPandas()
    assert len(exp) > 0  # the fixture must actually exercise the scorer
    cols = ["event_type", "bucket_end_s", "cnt", "mean_trailing", "zscore", "is_anomaly"]
    assert sorted(map(tuple, got[cols].values.tolist())) == sorted(
        map(tuple, exp[cols].values.tolist())
    )


def test_sentinel_pair_single_job_and_semantics(spark, small_events):
    """sentinel_pair builds both flush sentinels AND the result cutoff
    from exactly ONE Spark job (VERDICT r2 items 4+5: the former shape
    ran five — 2×max + 2×limit + a separate cutoff scan)."""
    ev = small_events.select("user_id", "event_id", "event_type", "ts")
    ev.count()  # materialize the cache so the measured job is only the TakeOrdered
    sc = spark.sparkContext
    sc.setJobGroup("sentinel_pair_probe", "count jobs for sentinel_pair")
    try:
        s1, s2, cutoff = replay.sentinel_pair(spark, ev)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("sentinel_pair_probe")
    assert len(jobs) == 1, f"sentinel_pair ran {len(jobs)} jobs, expected 1"

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    max_s = int(max_ts.replace(tzinfo=timezone.utc).timestamp())
    assert cutoff == max_s + 86400
    r1, r2 = s1.collect()[0], s2.collect()[0]
    t1 = int(r1["ts"].replace(tzinfo=timezone.utc).timestamp())
    t2 = int(r2["ts"].replace(tzinfo=timezone.utc).timestamp())
    assert t1 == max_s + 30 * 86400 and t2 == max_s + 31 * 86400
    assert r1["user_id"] == -1 and r2["user_id"] == -1  # reserved sentinel key
    assert r1["event_type"] == "noop"


def test_funnel_stream_matches_batch_on_ties_and_disorder(spark):
    """The chunk-wide decided-prefix fold must reproduce batch window
    semantics exactly — including a click at the SAME second as the
    first view (qualifies via ts >= s0, which per-row sequential
    processing in (ts, event_id) order would miss when the click's
    event_id sorts first)."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from gmall_flink_20_spark.operators import analytics
    from gmall_flink_20_spark.streaming import replay, stateful

    base = 1_700_000_000

    def ts(s):
        return datetime.fromtimestamp(base + s, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        # user 1: click event_id BEFORE the same-second view -> tie case
        (1, 10, ts(100), "click"),
        (1, 11, ts(100), "view"),
        (1, 12, ts(200), "purchase"),
        # user 2: click before any view -> never qualifies
        (2, 20, ts(50), "click"),
        (2, 21, ts(60), "view"),
        (2, 22, ts(70), "purchase"),  # purchase before any click
        # user 3: full chain, purchase beyond horizon
        (3, 30, ts(10), "view"),
        (3, 31, ts(20), "click"),
        (3, 32, ts(20 + 90_000), "purchase"),
        # user 4: no view at all
        (4, 40, ts(5), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    ).withColumn("ts_s", F.col("ts").cast("long"))

    batch = {
        r.step: r.users
        for r in analytics.funnel(
            ev.select("user_id", F.col("ts_s"), "event_type"),
            ["view", "click", "purchase"],
            horizon_s=86400,
            time_col="ts_s",
        ).collect()
    }

    sa, sb, _ = replay.sentinel_pair(spark, ev)
    stream = replay.replay_stream(
        spark, ev, "ts", num_chunks=3, disorder_s=30, extra_chunks=[sa, sb]
    )
    out = stateful.funnel_stream(
        stream.withWatermark("ts", "60 seconds"), horizon_s=86400
    )
    per_user = {r.user_id: r for r in replay.run_to_completion(out).collect()}
    got = {
        1: sum(1 for r in per_user.values() if r.s0_s is not None),
        2: sum(1 for r in per_user.values() if r.s1_s is not None),
        3: sum(1 for r in per_user.values() if r.s2_s is not None),
    }
    assert got == batch
    # the tie user completed all three steps
    assert per_user[1].s1_s == per_user[1].s0_s == base + 100
    # beyond-horizon purchase stays unset
    assert per_user[3].s2_s is None
    # exactly one emission per user with a view
    assert set(per_user) == {1, 2, 3}


def test_funnel_stream_tombstone_ttl_preserves_semantics(spark):
    """With tombstone_ttl_s set, emitted keys get one final event-time
    timer and state.remove() when it fires — output must be identical
    to the TTL-less run (exactly one emission per user, no re-fires)
    as long as the user doesn't reappear after the TTL."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from gmall_flink_20_spark.streaming import replay, stateful

    base = 1_700_000_000

    def ts(s):
        return datetime.fromtimestamp(base + s, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        (1, 10, ts(100), "view"),
        (1, 11, ts(150), "click"),
        (1, 12, ts(200), "purchase"),
        (2, 20, ts(50), "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    ).withColumn("ts_s", F.col("ts").cast("long"))
    sa, sb, _ = replay.sentinel_pair(spark, ev)
    stream = replay.replay_stream(
        spark, ev, "ts", num_chunks=3, extra_chunks=[sa, sb]
    )
    out = stateful.funnel_stream(
        stream.withWatermark("ts", "60 seconds"), horizon_s=300, tombstone_ttl_s=60
    )
    got = replay.run_to_completion(out).collect()
    assert sorted(r.user_id for r in got) == [1, 2]
    by_user = {r.user_id: r for r in got}
    assert by_user[1].s2_s == base + 200
    assert by_user[2].s1_s is None


def test_funnel_stream_tombstone_removed_after_ttl(spark):
    """The finite-TTL default (2×horizon) must actually REMOVE the
    tombstone when the TTL timer fires: a user who reappears after the
    TTL starts a fresh funnel (second emission — observable proof the
    state was dropped), while ttl=None keeps absorbing forever."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from gmall_flink_20_spark.streaming import replay, stateful

    base = 1_700_000_000

    def mk(rows):
        def ts(s):
            return datetime.fromtimestamp(base + s, tz=timezone.utc).replace(
                tzinfo=None
            )

        return spark.createDataFrame(
            [(u, e, ts(s), t) for (u, e, s, t) in rows],
            "user_id long, event_id long, ts timestamp, event_type string",
        ).withColumn("ts_s", F.col("ts").cast("long"))

    phase1 = mk([(1, 10, 100, "view"), (1, 11, 150, "click"), (1, 12, 200, "purchase")])
    p700 = mk([(9, 90, 700, "noise")])
    p1500 = mk([(9, 91, 1500, "noise")])
    p1700 = mk([(9, 92, 1700, "noise")])
    phase2 = mk([(1, 20, 2000, "view"), (1, 21, 2050, "click"), (1, 22, 2100, "purchase")])
    sa, sb, _ = replay.sentinel_pair(spark, phase2)

    def run(ttl):
        stream = replay.replay_stream(
            spark,
            phase1,
            "ts",
            num_chunks=1,
            extra_chunks=[p700, p1500, p1700, phase2, sa, sb],
        )
        out = stateful.funnel_stream(
            stream.withWatermark("ts", "60 seconds"), horizon_s=300,
            tombstone_ttl_s=ttl,
        )
        return [r for r in replay.run_to_completion(out).collect() if r.user_id == 1]

    # default (-1 -> 2*300=600): emission wm=640, TTL timer 1240; pacer
    # 1700 batch (wm 1440) fires it with no user-1 data -> state removed
    # -> phase-2 chain emits a SECOND funnel
    got = sorted(run(-1), key=lambda r: r.s0_s)
    assert len(got) == 2, f"expected re-emission after TTL removal, got {got}"
    assert got[0].s0_s == base + 100 and got[0].s2_s == base + 200
    assert got[1].s0_s == base + 2000 and got[1].s2_s == base + 2100
    # ttl=None: tombstone lives forever -> phase 2 absorbed, one emission
    got_none = run(None)
    assert len(got_none) == 1 and got_none[0].s0_s == base + 100


def test_bucketed_state_equals_per_key(spark, small_events):
    """Round-6 shard layout (stateful.STATE_BUCKETS): for each user-keyed
    state machine, the key-bucketed plan must emit EXACTLY the per-key
    plan's rows on a disordered replay — the timer-wheel shard is a
    physical-layout change, not a semantics change."""
    ev = small_events.select(
        "user_id", "event_id", F.col("ts").cast("long").alias("ts_s"), "event_type", "ts"
    )

    def run(op, buckets, **kw):
        s1 = far_future_row(spark, ev, days=30)
        s2 = far_future_row(spark, ev, days=31)
        stream = replay.replay_stream(
            spark, ev, "ts", num_chunks=6, disorder_s=300, extra_chunks=[s1, s2]
        )
        out = op(
            stream.withWatermark("ts", "660 seconds"), key_buckets=buckets, **kw
        )
        return sorted(
            tuple(r) for r in replay.run_to_completion(out).collect()
        )

    for op, kw in [
        (lambda s, key_buckets: stateful.login_fail_pairs_stream(
            s, max_gap_s=7200, key_buckets=key_buckets), {}),
        (lambda s, key_buckets: stateful.order_timeout_stream(
            s, horizon_s=7200, key_buckets=key_buckets), {}),
        (lambda s, key_buckets: stateful.funnel_stream(
            s, horizon_s=86400, key_buckets=key_buckets), {}),
    ]:
        per_key = run(op, 0, **kw)
        sharded = run(op, 7, **kw)  # deliberately small, non-default B
        assert sharded == per_key and per_key  # non-empty, identical


def test_sentinel_unsupported_literal_falls_back_and_logs_once(spark, caplog):
    """A column type Spark has no literal for (a map) takes the
    createDataFrame path, and says so once for both sentinels."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tags", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), {"a": 1}), (2, datetime(2024, 1, 2), {"b": 2})],
        schema,
    )
    with caplog.at_level("WARNING", logger="gmall_flink_20_spark"):
        s1, s2, _ = replay.sentinel_pair(spark, ev)
    (r1,) = s1.collect()
    assert r1["user_id"] == -1 and r1["tags"] == {"b": 2}
    assert r1["ts"] == datetime(2024, 2, 1)
    assert s2.collect()[0]["ts"] == datetime(2024, 2, 2)
    records = [r for r in caplog.records if r.name == "gmall_flink_20_spark"]
    assert len(records) == 1, [r.getMessage() for r in records]


def test_sentinel_other_errors_propagate(spark, small_events, monkeypatch):
    """Only an unsupported literal takes the slow path: any other error
    on the literal path is raised, not hidden behind the fallback."""

    def broken(*args, **kwargs):
        raise RuntimeError("broken literal path")

    ev = small_events.select("user_id", "event_id", "event_type", "ts")
    monkeypatch.setattr(spark, "range", broken)
    with pytest.raises(RuntimeError, match="broken literal path"):
        replay.flush_sentinel(spark, ev)
