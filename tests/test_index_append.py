"""The token contract of the persisted-index appends: one token per batch
per writer, and re-running a token the index has already seen is a
no-op that launches no Spark job and touches no file — after the
segment committed, after a full compaction purged it, and after an
incremental compaction left it partially absorbed. Also: the bulk
incremental query releases the frame it persists."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from gmall_flink_20_spark import io_sinks
from gmall_flink_20_spark.io import load_table
from gmall_flink_20_spark.operators import ann, dedup, sampling


def _tree(path: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``path`` — any write changes it."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"token_probe_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "token re-append probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _assert_reappend_is_noop(spark, path, append, state):
    """``append()`` re-runs a seen token: it must return False, launch
    no job, write no file, and leave the visible rows and the query
    answer (``state()``) unchanged."""
    before, tree = state(), _tree(path)
    wrote, jobs = _jobs_during(spark, append)
    assert wrote is False
    assert jobs == []
    assert _tree(path) == tree
    assert state() == before


# ------------------------------------------------------------------- IVF


def _ivf_index(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    delta = emb.filter(F.col("vec_id") % 10 == 9)
    path = str(tmp_path / "ivf")
    ann.ivf_index_write(base, path, nlist=16, train_iters=3)

    def state():
        rows = sorted(
            tuple(r)
            for r in io_sinks.read_with_segments(spark, path, "postings")
            .select("neighbor_id", "list_id")
            .collect()
        )
        answer = {
            tuple(r)
            for r in ann.ann_ivf_persisted_topk(
                spark, path, emb, list(range(10)), 5, nprobe=4
            ).collect()
        }
        return rows, answer

    return emb, delta, path, state


def test_ivf_reappend_after_commit_is_noop(spark, sf_dir, tmp_path):
    emb, delta, path, state = _ivf_index(spark, sf_dir, tmp_path)
    assert ann.ivf_index_append(delta, path, "t1") is True
    _assert_reappend_is_noop(
        spark, path, lambda: ann.ivf_index_append(delta, path, "t1"), state
    )
    rows, _ = state()
    assert len(rows) == emb.count()


def test_ivf_reappend_after_full_compaction_is_noop(spark, sf_dir, tmp_path):
    emb, delta, path, state = _ivf_index(spark, sf_dir, tmp_path)
    even = delta.filter(F.col("vec_id") % 20 == 9)
    odd = delta.filter(F.col("vec_id") % 20 == 19)
    ann.ivf_index_append(even, path, "t1")
    ann.ivf_index_compact(spark, path)
    assert not os.path.isdir(f"{path}/seg_t1")  # purged
    _assert_reappend_is_noop(
        spark, path, lambda: ann.ivf_index_append(even, path, "t1"), state
    )
    # a second full compaction carries the purged token forward
    ann.ivf_index_append(odd, path, "t2")
    ann.ivf_index_compact(spark, path)
    assert {"t1", "t2"} <= io_sinks.absorbed_tokens(f"{path}/postings")
    _assert_reappend_is_noop(
        spark, path, lambda: ann.ivf_index_append(even, path, "t1"), state
    )
    rows, _ = state()
    assert len(rows) == emb.count()


def test_ivf_reappend_after_incremental_compaction_is_noop(spark, sf_dir, tmp_path):
    emb, delta, path, state = _ivf_index(spark, sf_dir, tmp_path)
    ann.ivf_index_append(delta, path, "t1")
    assert ann.ivf_index_compact_incremental(spark, path, max_fragments=1)
    _assert_reappend_is_noop(
        spark, path, lambda: ann.ivf_index_append(delta, path, "t1"), state
    )
    rows, _ = state()
    assert len(rows) == emb.count()


# ------------------------------------------------------------------- LSH


def _lsh_index(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    path = str(tmp_path / "lsh")
    dedup.lsh_index_write(docs.filter(shard.isin(2, 3)), path)
    delta = docs.filter(shard == 1)
    query = docs.filter(shard == 0)

    def state():
        frames = [io_sinks.read_with_segments(spark, path, fr) for fr in ("bands", "shingles")]
        rows = tuple(
            sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
            for df in frames
        )
        answer = {
            tuple(r)
            for r in dedup.lsh_index_query_incremental(spark, path, query).collect()
        }
        return rows, answer

    return docs, delta, path, state


def _lsh_expected(docs):
    """The batch keeper rule over base = shards 1-3, new = shard 0."""
    return {tuple(r) for r in dedup.neardup_incremental(docs).collect()}


def test_lsh_reappend_after_commit_is_noop(spark, sf_dir, tmp_path):
    docs, delta, path, state = _lsh_index(spark, sf_dir, tmp_path)
    assert dedup.lsh_index_append(delta, path, "t1") is True
    _assert_reappend_is_noop(
        spark, path, lambda: dedup.lsh_index_append(delta, path, "t1"), state
    )
    assert state()[1] == _lsh_expected(docs)


def test_lsh_reappend_after_full_compaction_is_noop(spark, sf_dir, tmp_path):
    docs, delta, path, state = _lsh_index(spark, sf_dir, tmp_path)
    half = F.pmod(F.col("doc_id"), F.lit(2))
    even, odd = delta.filter(half == 0), delta.filter(half == 1)
    dedup.lsh_index_append(even, path, "t1")
    dedup.lsh_index_compact(spark, path)
    assert not os.path.isdir(f"{path}/seg_t1")  # purged
    _assert_reappend_is_noop(
        spark, path, lambda: dedup.lsh_index_append(even, path, "t1"), state
    )
    # a second full compaction carries the purged token forward
    dedup.lsh_index_append(odd, path, "t2")
    dedup.lsh_index_compact(spark, path)
    for fr in ("bands", "shingles"):
        assert {"t1", "t2"} <= io_sinks.absorbed_tokens(f"{path}/{fr}")
    _assert_reappend_is_noop(
        spark, path, lambda: dedup.lsh_index_append(even, path, "t1"), state
    )
    assert state()[1] == _lsh_expected(docs)


def test_lsh_reappend_after_incremental_compaction_is_noop(spark, sf_dir, tmp_path):
    docs, delta, path, state = _lsh_index(spark, sf_dir, tmp_path)
    half = F.pmod(F.col("doc_id"), F.lit(2))
    dedup.lsh_index_append(delta.filter(half == 0), path, "t1")
    dedup.lsh_index_append(delta.filter(half == 1), path, "t2")
    # bands fold in cell by cell; the two shingle segments tier-merge
    assert dedup.lsh_index_compact_incremental(spark, path, max_fragments=1)
    assert io_sinks.superseded_tokens(path, "shingles") == {"t1", "t2"}
    _assert_reappend_is_noop(
        spark,
        path,
        lambda: dedup.lsh_index_append(delta.filter(half == 0), path, "t1"),
        state,
    )
    assert state()[1] == _lsh_expected(docs)


def test_empty_batch_append_keeps_index_readable(spark, sf_dir, tmp_path):
    """A batch with no rows still commits its token, and readers and
    both compactors step over its data-less segment."""
    emb, delta, path, state = _ivf_index(spark, sf_dir, tmp_path)
    before = state()
    assert ann.ivf_index_append(delta.limit(0), path, "empty") is True
    assert io_sinks.token_seen(path, "empty", ("postings",))
    assert state() == before
    ann.ivf_index_compact_incremental(spark, path, max_fragments=1)
    ann.ivf_index_compact(spark, path)
    assert not os.path.isdir(f"{path}/seg_empty")
    assert state() == before
    assert ann.ivf_index_append(delta.limit(0), path, "empty") is False


# ------------------------------------------------------- token_seen unit


def test_token_seen_covers_segment_absorbed_and_superseded(tmp_path):
    root = str(tmp_path / "idx")
    os.makedirs(f"{root}/seg_live/postings")
    os.makedirs(f"{root}/postings")
    with open(f"{root}/postings/_absorbed", "w") as f:
        f.write("folded\n")
    os.makedirs(f"{root}/seg_mabc/postings")
    with open(f"{root}/seg_mabc/postings/_supersedes", "w") as f:
        f.write("merged_away\n")
    frames = ("postings",)
    for tok in ("live", "folded", "merged_away", "mabc"):
        assert io_sinks.token_seen(root, tok, frames), tok
    assert not io_sinks.token_seen(root, "fresh", frames)
    # a staged-but-uncommitted attempt is not seen: the retry restages
    os.makedirs(io_sinks.stage_segment_dir(root, "fresh") + "/postings/stale")
    calls = []

    def stage(dst):
        calls.append(sorted(os.listdir(dst)) if os.path.isdir(dst) else None)
        os.makedirs(f"{dst}/postings")

    assert io_sinks.append_segment(root, "fresh", frames, stage) is True
    assert calls == [None]  # the crashed attempt's leftovers were dropped
    assert os.path.isdir(f"{root}/seg_fresh/postings")
    assert io_sinks.append_segment(root, "fresh", frames, stage) is False
    assert len(calls) == 1


# ---------------------------------------------------- bulk query persist


def test_bulk_incremental_query_releases_its_persist(spark, sf_dir):
    """The bulk LSH query persists the shard's combined signature and
    shingle pass; once the caller has its result, no cached frame the
    call created is left behind in the session."""
    from gmall_flink_20_spark.queries import QUERIES

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    got = QUERIES["docs_lsh_index_compact_incremental"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert set(jsc.getPersistentRDDs().keys()) <= before
