"""Round-10 tests: compactor crash recovery, built-index memoization,
retry-safe streaming IVF ingest, perceptual-hash image dedup, and the
scratch/store hygiene fixes (ADVICE r9)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gmall_flink_20_spark import scratch
from gmall_flink_20_spark.io import load_table
from gmall_flink_20_spark.io_sinks import (
    InterruptedCompaction,
    heal_compaction_site,
    heal_missing_src,
)
from gmall_flink_20_spark.operators import ann, dedup, multimodal

# ------------------------------------------------ crash recovery


def _ivf_rows(spark, path, emb):
    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_persisted_topk(
            spark, path, emb, list(range(10)), 5, nprobe=4
        ).collect()
    }


def _tiny_ivf(spark, sf_dir, tmp_path, name):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / name)
    ann.ivf_index_write(emb, path, nlist=16, train_iters=3)
    return emb, path


def test_ivf_reader_heals_mid_swap_crash(spark, sf_dir, tmp_path):
    """Kill the compactor between its two renames; the next QUERY must
    restore the original postings and answer unchanged."""
    emb, path = _tiny_ivf(spark, sf_dir, tmp_path, "heal_q")
    before = _ivf_rows(spark, path, emb)
    with pytest.raises(InterruptedCompaction):
        ann.ivf_index_compact(spark, path, fail_between_renames=True)
    assert not os.path.exists(f"{path}/postings")
    assert os.path.isdir(f"{path}/postings_pre_compact")
    assert _ivf_rows(spark, path, emb) == before  # reader healed
    assert os.path.isdir(f"{path}/postings")


def test_ivf_compactor_heals_every_crash_state(spark, sf_dir, tmp_path):
    """A rerun compactor must recover from (a) mid-swap crash, (b)
    swap-done-cleanup-missed, (c) a stale uncommitted rewrite."""
    import shutil

    emb, path = _tiny_ivf(spark, sf_dir, tmp_path, "heal_c")
    before = _ivf_rows(spark, path, emb)
    src = f"{path}/postings"
    # (a) mid-swap: src absent, original parked, rewrite complete
    with pytest.raises(InterruptedCompaction):
        ann.ivf_index_compact(spark, path, fail_between_renames=True)
    ann.ivf_index_compact(spark, path)
    assert _ivf_rows(spark, path, emb) == before
    # (b) swap done, cleanup missed: stale pre_compact next to live src
    shutil.copytree(src, f"{src}_pre_compact")
    # (c) plus a stale uncommitted rewrite
    shutil.copytree(src, f"{src}_compacting")
    ann.ivf_index_compact(spark, path)
    assert not os.path.exists(f"{src}_pre_compact")
    assert not os.path.exists(f"{src}_compacting")
    assert _ivf_rows(spark, path, emb) == before


def test_heal_missing_src_is_restore_only(tmp_path):
    """The reader-side helper must NOT delete a work dir it cannot
    prove abandoned (it could belong to a LIVE compactor)."""
    src = str(tmp_path / "postings")
    os.makedirs(f"{src}_compacting")
    assert heal_missing_src(src) is False  # no pre_compact -> no action
    assert os.path.isdir(f"{src}_compacting")  # untouched
    os.makedirs(f"{src}_pre_compact")
    assert heal_missing_src(src) is True
    assert os.path.isdir(src) and not os.path.exists(f"{src}_pre_compact")
    assert os.path.isdir(f"{src}_compacting")  # still untouched


def test_heal_compaction_site_drops_stale_dirs(tmp_path):
    src = str(tmp_path / "bands")
    os.makedirs(src)
    os.makedirs(f"{src}_pre_compact")
    os.makedirs(f"{src}_compacting")
    heal_compaction_site(src)
    assert os.path.isdir(src)
    assert not os.path.exists(f"{src}_pre_compact")
    assert not os.path.exists(f"{src}_compacting")


def test_lsh_reader_heals_mid_swap_crash(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(F.col("doc_id"), F.lit(4))
    base, new = docs.filter(shard != 0), docs.filter(shard == 0)
    path = str(tmp_path / "lsh_heal")
    dedup.lsh_index_write(base, path)
    before = {
        (r.doc_id, r.kept)
        for r in dedup.lsh_index_query_incremental(spark, path, new).collect()
    }
    with pytest.raises(InterruptedCompaction):
        dedup.lsh_index_compact(spark, path, fail_between_renames=True)
    assert not os.path.exists(f"{path}/bands")
    got = {
        (r.doc_id, r.kept)
        for r in dedup.lsh_index_query_incremental(spark, path, new).collect()
    }
    assert got == before and os.path.isdir(f"{path}/bands")
    # and a rerun compactor finishes the job with results invariant
    dedup.lsh_index_compact(spark, path)
    got2 = {
        (r.doc_id, r.kept)
        for r in dedup.lsh_index_query_incremental(spark, path, new).collect()
    }
    assert got2 == before


# ------------------------------------------------ built-index memo


def test_index_memo_determinism(spark, sf_dir):
    """The memo must be semantically invisible: a memo-hit result equals
    the from-scratch rebuild after clear_index_memo()."""
    from gmall_flink_20_spark.queries import emb_index_persist

    a = {tuple(r) for r in emb_index_persist(spark, sf_dir).collect()}
    b = {tuple(r) for r in emb_index_persist(spark, sf_dir).collect()}  # hit
    scratch.clear_index_memo()
    c = {tuple(r) for r in emb_index_persist(spark, sf_dir).collect()}  # rebuild
    assert a == b == c and len(a) > 0


def test_fresh_copy_isolates_the_shared_build(spark, sf_dir):
    """Mutating entries must never touch the memoized dir: append into a
    fresh_copy and prove the source file set is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = scratch.memoized_index(
        "ivf_test_iso",
        emb,
        ("nlist", 16, "iters", 3),
        lambda p: ann.ivf_index_write(emb, p, nlist=16, train_iters=3),
    )
    files_before = sorted(str(p) for p in Path(base).rglob("*.parquet"))
    copy = scratch.fresh_copy(base, "iso_copy_")
    ann.ivf_index_append(emb.filter(F.col("vec_id") < 50), copy, "d1")
    assert sorted(str(p) for p in Path(base).rglob("*.parquet")) == files_before
    assert len(list(Path(copy).rglob("*.parquet"))) > len(files_before)
    # memo revalidates existence: same key returns the same dir
    again = scratch.memoized_index(
        "ivf_test_iso", emb, ("nlist", 16, "iters", 3), lambda p: 1 / 0
    )
    assert again == base


def test_scratch_root_cleanup():
    d = scratch.scratch_dir("cleanup_probe_")
    root = scratch.scratch_root()
    assert d.startswith(root) and os.path.isdir(d)
    scratch._cleanup()
    assert not os.path.exists(root)
    # next use re-creates a fresh root
    assert os.path.isdir(scratch.scratch_dir("after_"))


# ------------------------------------------------ retry-safe IVF ingest


def test_ivf_index_retry_dedup(spark, sf_dir, tmp_path):
    """A foreachBatch retry re-appends under the SAME token (its
    micro-batch id): the second append is a no-op, so the retried index
    holds no duplicate posting and answers exactly like the un-retried
    one — deduplicated at write time, with nothing to collapse at read
    time."""
    from gmall_flink_20_spark.io_sinks import read_with_segments

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)

    clean = str(tmp_path / "ivf_clean")
    ann.ivf_index_write(base, clean, nlist=16, train_iters=3)
    ann.ivf_index_append(delta, clean, "b0")
    expected = _ivf_rows(spark, clean, emb)

    retried = str(tmp_path / "ivf_retried")
    ann.ivf_index_write(base, retried, nlist=16, train_iters=3)
    assert ann.ivf_index_append(delta, retried, "b0") is True
    assert ann.ivf_index_append(delta, retried, "b0") is False  # the retry
    assert _ivf_rows(spark, retried, emb) == expected
    post = read_with_segments(spark, retried, "postings")
    assert post.count() == post.select("neighbor_id").distinct().count()
    assert post.count() == emb.count()


# ------------------------------------------------ perceptual hash


def _expected_dhash(mid: int) -> int:
    v = lambda x, y: (mid + 3 * x + 7 * y) % 256  # noqa: E731
    h = 0
    for y in range(5):
        for x in range(4):
            if v(x + 1, y) > v(x, y):
                h |= 1 << (y * 4 + x)
    for x in range(5):
        for y in range(4):
            if v(x, y + 1) > v(x, y):
                h |= 1 << (20 + x * 4 + y)
    return h


def test_image_dhash_matches_closed_form(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    got = {
        r.media_id: r.phash
        for r in multimodal.image_dhash(multimodal.encode_media(docs)).collect()
    }
    assert got, "expected image rows"
    for mid, h in got.items():
        assert mid % 3 == 0  # only images hashed
        assert h == _expected_dhash(mid)
        assert 0 <= h < (1 << 40)


def test_phash_banding_recall_is_exact(spark, sf_dir):
    """Band candidates must find EVERY pair within max_hamming (the
    pigeonhole guarantee) — checked against brute force over the
    distinct-hash frame."""
    from itertools import combinations

    docs = load_table(spark, sf_dir, "documents")
    hashes = multimodal.image_dhash(multimodal.encode_media(docs))
    distinct = sorted({r.phash for r in hashes.select("phash").distinct().collect()})
    brute = {}
    for a, b in combinations(distinct, 2):
        d = bin(a ^ b).count("1")
        if d <= 3:
            brute[(a, b)] = d
    stats = {
        r.hamming: (r.n_hash_pairs, r.n_pairs)
        for r in multimodal.phash_neardup_stats(hashes, 3, 40).collect()
    }
    counts = {}
    for r in hashes.groupBy("phash").count().collect():
        counts[r.phash] = r["count"]
    # recompute the rollup from brute force + counts
    exp = {}
    d0_hashes = [h for h, n in counts.items() if n >= 2]
    if d0_hashes:
        exp[0] = (
            len(d0_hashes),
            sum(n * (n - 1) // 2 for n in (counts[h] for h in d0_hashes)),
        )
    for (a, b), d in brute.items():
        hp, np_ = exp.get(d, (0, 0))
        exp[d] = (hp + 1, np_ + counts[a] * counts[b])
    assert stats == exp and len(stats) > 0


# ------------------------------------------------ store/fingerprint hygiene


def test_upsert_store_single_key_last_write_wins(spark, tmp_path):
    from gmall_flink_20_spark.streaming import topn as stopn

    store = stopn.ParquetUpsertStore(str(tmp_path / "log"), "doc_id")
    store.upsert(spark.createDataFrame([(1, 0), (2, 1)], "doc_id long, kept long"), 0)
    # epoch 1 REVERSES doc 1's decision: keyed on doc_id alone, the
    # newer row must replace it (not coexist as a second (1,1) key)
    store.upsert(spark.createDataFrame([(1, 1)], "doc_id long, kept long"), 1)
    snap = {(r.doc_id, r.kept) for r in store.snapshot(spark).collect()}
    assert snap == {(1, 1), (2, 1)}


def test_dir_fingerprint_sees_in_place_child_rewrite(tmp_path):
    """ADVICE r9: rewriting a child's CONTENTS without adding/removing
    directory entries must still change the fingerprint."""
    import time

    from gmall_flink_20_spark.io import _dir_fingerprint

    d = tmp_path / "tbl.parquet"
    d.mkdir()
    f = d / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = _dir_fingerprint(str(d))
    time.sleep(0.01)
    f.write_bytes(b"bbbb")  # same size, same dir entry set
    fp2 = _dir_fingerprint(str(d))
    assert fp1 != fp2


def test_emb_index_streaming_kill_resume(spark, sf_dir, tmp_path):
    """Checkpointed restart mid-ingest: half the delta lands, the query
    'dies' (the availableNow run ends), the rest arrives, a SECOND run
    resumes from the checkpoint — the grown index must answer exactly
    like the one-shot batch append (index-directory-as-state survives
    restarts; the same contract the LSH stream pinned in round 9)."""
    import shutil
    import uuid

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    ).orderBy("vec_id")
    rows = delta.collect()
    half = len(rows) // 2
    schema = delta.schema

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "index")
    ann.ivf_index_write(base, idx, nlist=16, train_iters=3)

    def write_chunk(df, j, mtime):
        tmp = tmp_path / f"tmp_{uuid.uuid4().hex[:6]}"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            dst = src / f"{j:05d}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    def handle(batch, epoch_id):
        b = batch.persist()
        try:
            if b.count() == 0:
                return
            ann.ivf_index_append(b, idx, f"b{epoch_id}")
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

    write_chunk(spark.createDataFrame(rows[:half], schema), 0, 1_000_000_000)
    run_once()  # "crash" after the first half is ingested
    write_chunk(spark.createDataFrame(rows[half:], schema), 1, 1_000_000_001)
    run_once()  # resume from checkpoint: only the new chunk replays

    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_persisted_topk(
            spark, idx, emb, list(range(10)), 5, nprobe=4
        ).collect()
    }
    oneshot = str(tmp_path / "oneshot")
    ann.ivf_index_write(base, oneshot, nlist=16, train_iters=3)
    ann.ivf_index_append(emb.filter(F.col("vec_id") % 10 == 0), oneshot, "d1")
    exp = _ivf_rows(spark, oneshot, emb)
    assert got == exp and len(got) > 0


# ------------------------------------------------ persisted IVF-PQ


def test_ivf_pq_persisted_equals_in_session(spark, sf_dir, tmp_path):
    """Compressed-index reload ≡ in-session composite, bit for bit
    (same training, same driver-side probe/ADC kernels)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq")
    ann.ivf_pq_index_write(emb, path)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_pq_persisted_topk(
            spark, path, emb, list(range(10)), 5
        ).collect()
    }
    exp = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_pq_topk(emb, list(range(10)), 5).collect()
    }
    assert got == exp and len(got) > 0


def test_ivf_pq_index_layout(spark, sf_dir, tmp_path):
    """The stored postings carry CODES, not raw vectors — the
    compression is real — and the layout is hive-partitioned."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq_layout")
    ann.ivf_pq_index_write(emb, path)
    post = spark.read.parquet(f"{path}/postings")
    assert set(post.columns) == {"neighbor_id", "codes", "list_id"}
    assert post.count() == emb.count()
    row = post.limit(1).collect()[0]
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)
    cents, books, meta = ann.ivf_pq_index_load(spark, path)
    assert len(cents) == 16 and len(books) == 8 and meta["ks"] == 16
    dirs = {p.name for p in Path(f"{path}/postings").iterdir() if p.is_dir()}
    assert dirs and all(d.startswith("list_id=") for d in dirs)


# ------------------------------------------------ phash dedup index


def test_phash_index_incremental_matches_brute_force(spark, sf_dir, tmp_path):
    """The banded earliest-owner rule must equal the quadratic
    definition: kept iff no EARLIER image within hamming <= 3."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.encode_media(docs)
    hashes = {r.media_id: r.phash for r in multimodal.image_dhash(media).collect()}
    base_ids = sorted(m for m in hashes if m % 4 != 0)
    new_ids = sorted(m for m in hashes if m % 4 == 0)
    base_df = spark.createDataFrame(
        [(m, hashes[m]) for m in base_ids], "media_id long, phash long"
    )
    new_df = spark.createDataFrame(
        [(m, hashes[m]) for m in new_ids], "media_id long, phash long"
    )
    path = str(tmp_path / "phidx")
    multimodal.phash_index_write(base_df, path)
    got = {
        (r.media_id, r.kept)
        for r in multimodal.phash_index_query_incremental(
            spark, path, new_df
        ).collect()
    }
    base_hashes = {hashes[m] for m in base_ids}
    exp = set()
    for i in new_ids:
        dropped = any(
            bin(hashes[i] ^ h).count("1") <= 3 for h in base_hashes
        ) or any(
            j < i and bin(hashes[i] ^ hashes[j]).count("1") <= 3
            for j in new_ids
        )
        exp.add((i, 0 if dropped else 1))
    assert got == exp and len(got) == len(new_ids)


def test_phash_index_retry_sees_itself_safely(spark, sf_dir, tmp_path):
    """A retried batch that already appended its own hashes must
    recompute its ORIGINAL decisions (the anti-join neutralizer)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = multimodal.image_dhash(multimodal.encode_media(docs))
    base = hashes.filter(F.col("media_id") % 4 != 0)
    new = hashes.filter(F.col("media_id") % 4 == 0)
    path = str(tmp_path / "phretry")
    multimodal.phash_index_write(base, path)
    first = {
        (r.media_id, r.kept)
        for r in multimodal.phash_index_query_incremental(spark, path, new).collect()
    }
    multimodal.phash_index_append(new, path, "b0")  # the batch lands
    # ... and the foreachBatch RETRY re-runs the query with its own
    # rows already in the index
    retry = {
        (r.media_id, r.kept)
        for r in multimodal.phash_index_query_incremental(spark, path, new).collect()
    }
    assert retry == first


def test_ivf_pq_append_order_and_compaction_invariant(spark, sf_dir, tmp_path):
    """Compressed add(): frozen-artifact appends must be order-
    invariant, and the layout-agnostic compactor must leave answers
    unchanged while cutting the file count."""
    emb = load_table(spark, sf_dir, "embeddings")
    mx = emb.agg(F.max("vec_id")).first()[0]
    cut = (9 * (int(mx) + 1)) // 10
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)

    def build(name, parts):
        path = str(tmp_path / name)
        ann.ivf_pq_index_write(base, path)
        for i, p in enumerate(parts):
            ann.ivf_pq_index_append(p, path, f"p{i}")
        return path

    whole = build("pq_whole", [delta])
    halves = build(
        "pq_halves",
        [delta.filter(F.pmod(F.col("vec_id"), F.lit(2)) == j) for j in (1, 0)],
    )
    q = lambda p: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_pq_persisted_topk(
            spark, p, emb, list(range(10)), 5
        ).collect()
    }
    assert q(whole) == q(halves) and len(q(whole)) > 0
    files_before = len(list(Path(halves).glob("postings/**/*.parquet"))) + len(
        list(Path(halves).glob("seg_*/postings/**/*.parquet"))
    )
    n_after = ann.ivf_index_compact(spark, halves)
    assert n_after < files_before
    assert q(halves) == q(whole)
