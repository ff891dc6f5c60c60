"""Round-13 tests: ADVICE r12 fixes (contamination edge corpora,
_cell_values hard error, merge-legs ratio guard), the Arrow winnowing
kernel, the BLAS cosine-neardup kernel, the composable CEP surface,
writer fencing, and LSH shingle incremental compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- ADVICE


def test_contamination_zero_gram_source_both_paths(spark):
    """A source whose docs are ALL shorter than n tokens emits zero
    grams. ADVICE r12: the bitmask path used to divide grams_a=0 (ANSI
    DIVIDE_BY_ZERO) while the join path silently omitted the source.
    Both paths must now omit it identically."""
    from gmall_flink_20_spark.operators import text as T

    rows = [
        ("a", "w1 w2 w3 w4 w5 w6"),
        ("a", "w2 w3 w4 w5 w6 w7"),
        ("b", "w1 w2 w3 w4 w5"),
        ("zero", "too short"),     # < n tokens -> no grams
        ("zero", ""),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got_bit = {tuple(r) for r in T.cross_source_contamination(df, n=5).collect()}
    got_join = {
        tuple(r)
        for r in T.cross_source_contamination(df, n=5, force_pairwise=True).collect()
    }
    assert got_bit == got_join
    srcs_out = {r[0] for r in got_bit} | {r[1] for r in got_bit}
    assert "zero" not in srcs_out and srcs_out == {"a", "b"}


def test_contamination_null_source_both_paths(spark):
    """NULL sources are dropped from the matrix in BOTH paths (decided
    explicitly, ADVICE r12 — the bitmask path used to raise TypeError
    sorting None against str)."""
    from gmall_flink_20_spark.operators import text as T

    rows = [
        ("a", "w1 w2 w3 w4 w5 w6"),
        ("b", "w1 w2 w3 w4 w5"),
        (None, "w1 w2 w3 w4 w5 w6 w7"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got_bit = {tuple(r) for r in T.cross_source_contamination(df, n=5).collect()}
    got_join = {
        tuple(r)
        for r in T.cross_source_contamination(df, n=5, force_pairwise=True).collect()
    }
    assert got_bit == got_join
    srcs_out = {r[0] for r in got_bit} | {r[1] for r in got_bit}
    assert None not in srcs_out and srcs_out == {"a", "b"}


def test_contamination_all_sources_empty(spark):
    """Degenerate corpus: every source zero-gram -> empty matrix, no
    crash, on both paths."""
    from gmall_flink_20_spark.operators import text as T

    df = spark.createDataFrame(
        [("a", "tiny"), ("b", "")], "source string, text string"
    )
    assert T.cross_source_contamination(df, n=5).count() == 0
    assert T.cross_source_contamination(df, n=5, force_pairwise=True).count() == 0


def test_cell_values_mixed_columns_raises():
    """_cell_values integrity check survives python -O (ValueError, not
    assert — ADVICE r12)."""
    from gmall_flink_20_spark.io_sinks import _cell_values

    with pytest.raises(ValueError, match="mixed partition columns"):
        _cell_values({"list_id=3", "band=7"})
    col, vals = _cell_values({"list_id=3", "list_id=11"})
    assert col == "list_id" and sorted(vals) == [3, 11]


def test_merge_legs_no_shared_queries(tmp_path):
    """merge_bench_legs with disjoint leg sets emits ratio=null instead
    of ZeroDivisionError (ADVICE r12)."""
    import json
    import subprocess
    import sys

    legs = [
        {"kind": "spark", "queries": {"q1": 1.0}},
        {"kind": "oracle", "queries": {"q2": 2.0}},
    ]
    args = []
    for i, (kind, leg) in enumerate(zip(["spark", "oracle"], legs)):
        p = tmp_path / f"leg{i}.json"
        p.write_text(json.dumps(leg))
        args.append(f"{kind}:{p}")
    out = tmp_path / "merged.json"
    r = subprocess.run(
        [sys.executable, "/root/repo/scripts/merge_bench_legs.py", str(out), *args],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr
    merged = json.loads(out.read_text())
    assert merged["summary"]["ratio"] is None
    assert merged["summary"]["n_shared"] == 0


# --------------------------------------- streaming CEP kill-resume


def test_cep_mixed_stream_recovers_from_checkpoint(spark, sf_dir):
    """Kill the mixed-contiguity CEP machine mid-replay at a
    checkpoint, restart, and the triple set must equal the batch CEP
    surface — pendings, the adjacency scalar, and the undecided buffer
    survive the restart with no lost or duplicated matches."""
    import shutil
    import tempfile
    import uuid
    from pathlib import Path

    from gmall_flink_20_spark.io import load_events
    from gmall_flink_20_spark.operators import cep
    from gmall_flink_20_spark.streaming import stateful

    ev = (
        load_events(spark, sf_dir)
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
    base = Path(tempfile.mkdtemp(prefix="recov_cepmx_"))
    src = base / "src"
    src.mkdir()
    ckpt = str(base / "ckpt")
    out_dir = str(base / "out")

    def _chunk(df, j, mtime):
        import os

        tmp = base / f"tmp_{uuid.uuid4().hex[:6]}"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            dst = src / f"{j:05d}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stateful.cep_mixed_stream(
                stream.withWatermark("ts", "2 seconds"), within_s=172800
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _chunk(spark.createDataFrame(rows[:half], schema), 0, 1_000_000_000)
    run_once()
    _chunk(spark.createDataFrame(rows[half:], schema), 1, 1_000_000_001)
    run_once()

    got = spark.read.parquet(out_dir).toPandas()
    full = spark.createDataFrame(rows, schema)
    wm_s = max(r.ts_s for r in rows) - 2
    pat = (
        cep.Pattern("f1", F.col("event_type") == "error")
        .next("f2", F.col("event_type") == "error")
        .followed_by("ok", F.col("event_type") == "signup")
        .within(172800)
    )
    exp = (
        cep.detect(full, pat, "user_id", "ts", "event_id")
        .filter(F.col("ts_ok_s") < wm_s)
        .toPandas()
    )
    got_set = {
        tuple(r)
        for r in got[
            ["user_id", "first_fail_s", "second_fail_s", "recovered_s"]
        ].to_numpy().tolist()
    }
    exp_set = {
        tuple(r)
        for r in exp[["user_id", "ts_f1_s", "ts_f2_s", "ts_ok_s"]]
        .to_numpy()
        .tolist()
    }
    assert got_set == exp_set and len(got) == len(got_set)
    assert len(got_set) > 0


# ------------------------------------------------- writer fencing


def test_lease_excludes_second_writer(tmp_path):
    from gmall_flink_20_spark import io_sinks as S

    root = str(tmp_path / "idx")
    with S.maintenance_lease(root, "compact") as lease:
        assert lease.epoch == 1
        with pytest.raises(S.MaintenanceLeaseHeld, match="held by"):
            S.acquire_maintenance_lease(root, "purge")
    # released: next writer acquires with a bumped epoch
    assert S.acquire_maintenance_lease(root, "compact") == 2
    S.release_maintenance_lease(root)
    S.release_maintenance_lease(root)  # idempotent


def test_lease_reclaims_dead_same_host_holder(tmp_path):
    import os
    import socket

    from gmall_flink_20_spark import io_sinks as S

    root = str(tmp_path / "idx")
    os.makedirs(root)
    # forge a lease from a dead pid on this host (pid 2^22+1 is above
    # the default pid_max and cannot be alive)
    with open(os.path.join(root, "_maintenance_lease"), "w") as f:
        f.write(f"{socket.gethostname()}\t4194305\t7\tcompact\n")
    assert S.acquire_maintenance_lease(root, "compact") == 8
    S.release_maintenance_lease(root)
    # a foreign-host lease is NOT auto-reclaimed
    with open(os.path.join(root, "_maintenance_lease"), "w") as f:
        f.write("some-other-host\t4194305\t3\tcompact\n")
    with pytest.raises(S.MaintenanceLeaseHeld):
        S.acquire_maintenance_lease(root, "compact")
    # ...unless forced; the durable counter (already at 8) keeps the
    # epoch strictly monotonic past every prior writer
    assert S.acquire_maintenance_lease(root, "compact", force=True) == 9


def test_interleaved_compactors_fence(spark, sf_dir):
    """VERDICT r12 item 5: fault-inject two interleaved compactors —
    the second raises cleanly while the first holds the lease, and the
    index stays query-correct throughout; a CRASHED first compactor
    (mid-swap exception) releases the fence so the second heals and
    completes."""
    from gmall_flink_20_spark import io_sinks as S, scratch
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import dedup, sampling
    from gmall_flink_20_spark.queries import _lsh_base_index

    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    path = scratch.fresh_copy(_lsh_base_index(spark, sf_dir, (2, 3)), "lsh_fence_t_")
    dedup.lsh_index_append(docs.filter(shard == 1), path, "a1")
    baseline = {
        tuple(r)
        for r in dedup.lsh_index_query_incremental(
            spark, path, docs.filter(shard == 0)
        ).collect()
    }
    # writer A holds the fence; writer B (full AND incremental) fails fast
    with S.maintenance_lease(path, "compactor_A"):
        with pytest.raises(S.MaintenanceLeaseHeld):
            dedup.lsh_index_compact(spark, path)
        with pytest.raises(S.MaintenanceLeaseHeld):
            dedup.lsh_index_compact_incremental(spark, path)
    # index untouched by the fenced-out attempts
    after_fence = {
        tuple(r)
        for r in dedup.lsh_index_query_incremental(
            spark, path, docs.filter(shard == 0)
        ).collect()
    }
    assert after_fence == baseline
    # writer A CRASHES mid-swap: the exception releases the fence, the
    # half-swapped site remains; writer B acquires, heals, completes
    with pytest.raises(S.InterruptedCompaction):
        dedup.lsh_index_compact(spark, path, fail_between_renames=True)
    import os

    assert not os.path.isdir(f"{path}/bands")  # half-swapped for real
    dedup.lsh_index_compact(spark, path)
    final = {
        tuple(r)
        for r in dedup.lsh_index_query_incremental(
            spark, path, docs.filter(shard == 0)
        ).collect()
    }
    assert final == baseline


# ------------------------------------------------- segment tier-merge


def test_merge_segment_frames_invariant_and_atomic(spark, sf_dir):
    """merge_segment_frames: result-invariant, base untouched, sources
    superseded; a merge-of-merges keeps the whole closure dead; the
    full compact after a merge absorbs the closure so purge reclaims
    every dir."""
    import os

    from gmall_flink_20_spark import io_sinks as S, scratch
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import dedup, sampling
    from gmall_flink_20_spark.queries import _lsh_base_index

    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    path = scratch.fresh_copy(_lsh_base_index(spark, sf_dir, (2, 3)), "lsh_merge_t_")
    s1 = docs.filter(shard == 1)
    half = F.pmod(F.col("doc_id"), F.lit(2))
    dedup.lsh_index_append(s1.filter(half == 0), path, "a0")
    dedup.lsh_index_append(s1.filter(half == 1), path, "a1")
    q = lambda: {  # noqa: E731
        tuple(r)
        for r in dedup.lsh_index_query_incremental(
            spark, path, docs.filter(shard == 0)
        ).collect()
    }
    baseline = q()
    sh_dir = f"{path}/shingles"
    before = sorted(
        (fn, os.stat(os.path.join(sh_dir, fn)).st_ino)
        for fn in os.listdir(sh_dir)
        if fn.endswith(".parquet")
    )
    tok1 = S.merge_segment_frames(spark, path, "shingles")
    assert tok1 is not None
    # base untouched, sources dead, merged live
    after = sorted(
        (fn, os.stat(os.path.join(sh_dir, fn)).st_ino)
        for fn in os.listdir(sh_dir)
        if fn.endswith(".parquet")
    )
    assert after == before
    live = dict(S.committed_segments(path, "shingles"))
    assert set(live) == {tok1}
    assert S.superseded_tokens(path, "shingles") == {"a0", "a1"}
    assert q() == baseline
    # bands frame unaffected: still sees a0/a1
    assert set(dict(S.committed_segments(path, "bands"))) == {"a0", "a1"}
    # merge-of-merges: re-merge the single live merged segment; dropping
    # the first merged segment from the live set must not resurrect
    # a0/a1 (the supersedes closure is read from ALL segment dirs)
    tok2 = S.merge_segment_frames(spark, path, "shingles", min_segments=1)
    assert tok2 is not None and tok2 != tok1
    assert set(dict(S.committed_segments(path, "shingles"))) == {tok2}
    assert S.superseded_tokens(path, "shingles") >= {"a0", "a1", tok1}
    assert q() == baseline
    # below threshold: no-op
    assert S.merge_segment_frames(spark, path, "shingles") is None
    # full compact absorbs the closure; purge reclaims every dir
    dedup.lsh_index_compact(spark, path)
    assert q() == baseline
    segs = [n for n in os.listdir(path) if n.startswith("seg_")]
    assert segs == [], segs


# ------------------------------------------------- vectorized kernels


def test_winnowing_kernel_matches_jvm_expression(spark):
    """The Arrow winnowing kernel must reproduce the former
    explode + md5 expression + window-min + DISTINCT plan row for row:
    same tokenization, same gram md5 bytes, same lexicographic window
    minimum, same full-window boundary (start i <= n_grams - window)."""
    from pyspark.sql import Window as W

    from gmall_flink_20_spark.operators import text as T

    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, "\tlead tab a b c d e f g h"),          # leading-empty token
        (3, "x " * 40),                              # repeated token
        (4, "too short for any window"),             # < k+window-1 tokens
        (5, None),
        (6, "  p q r s t u v w  "),                  # pad spaces
        (7, "m1  m2\tm3\nm4 m5 m6 m7 m8 m9"),       # mixed whitespace
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, window = 5, 4
    got = {(r.doc_id, r.fp) for r in T.winnowing_fingerprints(df, k=k, window=window).collect()}

    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = df.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= k + window - 1
    )
    grams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("i"),
        F.col("toks"),
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.concat_ws(
                " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(k)]
            ).cast("binary")
        ).alias("h"),
    )
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(0, window - 1)
    exp = {
        (r.doc_id, r.fp)
        for r in grams.withColumn("wmin", F.min("h").over(w))
        .withColumn("n", F.count("i").over(W.partitionBy("doc_id")))
        .filter(F.col("i") <= F.col("n") - window)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
        .collect()
    }
    assert got == exp and len(got) > 0


# ------------------------------------------------- composable CEP surface


def _cep_events(spark):
    # (user, ts, type, id) — crafted to exercise: strict adjacency, a
    # same-ts later-position event, relaxed skipping, within breach,
    # broken chain, end-of-stream
    rows = [
        (1, 100, "fail", 1),
        (1, 101, "fail", 2),
        (1, 105, "ok", 3),        # match: f1=100 f2=101 ok=105
        (1, 200, "fail", 4),
        (1, 300, "fail", 5),      # not adjacent to 4? yes adjacent (rn)
        (1, 9999, "ok", 6),       # within breach for anchor 200
        (2, 10, "fail", 7),
        (2, 11, "other", 8),      # breaks strict chain
        (2, 12, "fail", 9),
        (2, 13, "fail", 10),      # f1=12 f2=13, no ok after -> no match
        (3, 50, "fail", 11),
        (3, 50, "fail", 12),      # same ts, tiebreak by id
        (3, 51, "ok", 13),
    ]
    return spark.createDataFrame(rows, "u long, ts_s long, et string, eid long").select(
        "u", F.col("ts_s").cast("timestamp").alias("ts"), "et", "eid"
    )


def test_cep_mixed_pattern_matches_bruteforce(spark):
    """Mixed strict+relaxed pattern: positional compile must equal a
    brute-force per-key enumeration (greedy first-match relaxed step)."""
    from gmall_flink_20_spark.operators import cep

    df = _cep_events(spark)
    pat = (
        cep.Pattern("f1", F.col("et") == "fail")
        .next("f2", F.col("et") == "fail")
        .followed_by("ok", F.col("et") == "ok")
        .within(100)
    )
    got = {
        (r.u, r.ts_f1_s, r.ts_f2_s, r.ts_ok_s)
        for r in cep.detect(df, pat, "u", "ts", "eid").collect()
    }
    # brute force
    rows = sorted(
        [(r.u, r.ts.timestamp(), r.et, r.eid) for r in df.collect()],
        key=lambda x: (x[0], x[1], x[3]),
    )
    by_key: dict = {}
    for u, ts, et, eid in rows:
        by_key.setdefault(u, []).append((int(ts), et))
    exp = set()
    for u, evs in by_key.items():
        for i in range(len(evs) - 1):
            if evs[i][1] != "fail" or evs[i + 1][1] != "fail":
                continue
            ok = next((e for e in evs[i + 2 :] if e[1] == "ok"), None)
            if ok and ok[0] - evs[i][0] <= 100:
                exp.add((u, evs[i][0], evs[i + 1][0], ok[0]))
    assert got == exp and len(exp) >= 2


def test_cep_strict_fast_path_equals_positional(spark):
    """All-strict patterns take the lead-chain fast path; forcing the
    positional path (via emit_timeouts + filter) must agree."""
    from gmall_flink_20_spark.operators import cep

    df = _cep_events(spark)

    def mk():
        return cep.Pattern("a", F.col("et") == "fail").times(2).within(50)

    fast = {
        (r.u, r.ts_a_s, r.ts_a_2_s)
        for r in cep.detect(df, mk(), "u", "ts", "eid").collect()
    }
    slow_rows = cep.detect(df, mk(), "u", "ts", "eid", emit_timeouts=True).collect()
    slow = {
        (r.u, r.ts_a_s, r.ts_a_2_s) for r in slow_rows if r.status == "match"
    }
    assert fast == slow and len(fast) >= 2


def test_cep_match_or_timeout_equals_join_form(spark, sf_dir):
    """The CEP-composed match_or_timeout must reproduce the former
    semi/anti-join implementation row for row on real data."""
    from gmall_flink_20_spark.io import load_events
    from gmall_flink_20_spark.operators import patterns

    df = load_events(spark, sf_dir)
    got = {
        (r.create_id, r.user_id, r.create_ts_s, r.status)
        for r in patterns.match_or_timeout(
            df, "user_id", "ts", "event_type", "view", "purchase", 7200, "event_id"
        ).collect()
    }
    creates = df.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("create_id"),
        "user_id",
        F.col("ts").cast("long").alias("create_ts_s"),
    )
    pays = df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_key"), F.col("ts").cast("long").alias("pay_ts_s")
    )
    cond = (
        (creates["user_id"] == pays["p_key"])
        & (pays["pay_ts_s"] > creates["create_ts_s"])
        & (pays["pay_ts_s"] <= creates["create_ts_s"] + 7200)
    )
    payed = creates.join(pays, cond, "left_semi").withColumn("status", F.lit("payed"))
    timed = creates.join(pays, cond, "left_anti").withColumn("status", F.lit("timeout"))
    exp = {
        (r.create_id, r.user_id, r.create_ts_s, r.status)
        for r in payed.unionByName(timed).collect()
    }
    assert got == exp and len(got) > 0


def test_cep_timeout_rows_carry_nulls(spark):
    """Timeout capture: broken chains and within breaches emit
    status='timeout' with NULL ts for unreached steps."""
    from gmall_flink_20_spark.operators import cep

    df = _cep_events(spark)
    pat = (
        cep.Pattern("f", F.col("et") == "fail")
        .followed_by("ok", F.col("et") == "ok")
        .within(20)
    )
    rows = cep.detect(
        df, pat, "u", "ts", "eid", carry=(("eid", "anchor_id"),), emit_timeouts=True
    ).collect()
    by_anchor = {r.anchor_id: r for r in rows}
    # anchor eid=4 (u1, ts 200): first later ok at 9999 -> within breach
    assert by_anchor[4].status == "timeout"
    # anchor eid=9 (u2, ts 12): no ok ever -> timeout with NULL ok ts
    assert by_anchor[9].status == "timeout" and by_anchor[9].ts_ok_s is None
    # anchor eid=1 (u1, ts 100): ok at 105 -> match
    assert by_anchor[1].status == "match" and by_anchor[1].ts_ok_s == 105


def test_cosine_kernel_matches_jvm_dot(spark, sf_dir):
    """The Arrow pair-scoring kernel in cosine_near_dup_blocked must
    select the same id pairs as the former per-pair zip_with/aggregate
    expression at the same threshold."""
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import ann, blocking
    from gmall_flink_20_spark.operators.ann import dot, norm

    emb = load_table(spark, sf_dir, "embeddings").limit(400)
    got = {
        (r.vec_a, r.vec_b)
        for r in ann.cosine_near_dup_blocked(emb, threshold=0.25).collect()
    }
    withnorm = emb.select(
        F.col("label").alias("blk"),
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("nrm"),
    )
    pairs = blocking.bounded_block_pairs(withnorm, ["blk"], "vid", cap_rows=2000)
    exp = {
        (r.vec_a, r.vec_b)
        for r in pairs.withColumn(
            "score",
            dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("score") >= 0.25)
        .select(F.col("vid_a").alias("vec_a"), F.col("vid_b").alias("vec_b"))
        .collect()
    }
    assert got == exp and len(got) > 0
