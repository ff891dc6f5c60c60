"""Round-11 tests: ADVICE r10 fixes (top-down BMP, two-level dir
fingerprint, phash pre-filter), the exact-bitmap UV, OPQ, and the
atomic-segment append / query-during-append reader contract."""

from __future__ import annotations

import os
import struct
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gmall_flink_20_spark.io import load_table
from gmall_flink_20_spark.operators import multimodal

# ------------------------------------------------ ADVICE r10 fixes


def _bmp_from_grid(grid: list[list[int]], top_down: bool) -> bytes:
    """Minimal 24-bit BMP with the given gray grid, either row order."""
    h, w = len(grid), len(grid[0])
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    rows = grid if top_down else list(reversed(grid))
    body = b"".join(
        bytes(v for px in row for v in (px, px, px)).ljust(stride, b"\0")
        for row in rows
    )
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(body), 2835, 2835, 0, 0,
    )
    return header + dib + body


def test_bmp_gray_honors_top_down_height_sign():
    """ADVICE r10: a negative-height (top-down) BMP must decode to the
    SAME pixel grid as its bottom-up twin, not a vertical flip."""
    grid = [[10, 20, 30], [40, 50, 60], [70, 80, 90], [5, 15, 25]]
    up = multimodal._bmp_gray(_bmp_from_grid(grid, top_down=False))
    down = multimodal._bmp_gray(_bmp_from_grid(grid, top_down=True))
    assert up == grid
    assert down == grid


def test_dir_fingerprint_sees_nested_partition_rewrite(tmp_path):
    """ADVICE r10: an in-place CONTENT rewrite of a file nested inside
    a partition subdirectory (same size, same entry set — neither the
    root's nor the subdir's mtime moves) must change the fingerprint."""
    from gmall_flink_20_spark.io import _dir_fingerprint

    d = tmp_path / "postings"
    (d / "list_id=3").mkdir(parents=True)
    f = d / "list_id=3" / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = _dir_fingerprint(str(d))
    time.sleep(0.01)
    f.write_bytes(b"bbbb")  # same size, same entries at every level
    fp2 = _dir_fingerprint(str(d))
    assert fp1 != fp2


def test_phash_entries_encode_only_images(spark, sf_dir):
    """ADVICE r10: the dHash pipeline must not materialize WAV/VID0
    payloads it immediately discards — the encode input is pre-filtered
    to image ids, so every encoded row is an image."""
    docs = load_table(spark, sf_dir, "documents")
    enc = multimodal.encode_media(docs.filter(F.col("doc_id") % 3 == 0))
    kinds = [r.kind for r in enc.select("kind").distinct().collect()]
    assert kinds == ["image"]


# ------------------------------------------------ exact-bitmap UV


def test_bitmap_uv_equals_count_distinct(spark, sf_dir):
    from gmall_flink_20_spark.operators import distinct

    ev = load_table(spark, sf_dir, "events")
    exact = {
        (r.window_end_s, r.uv)
        for r in distinct.unique_count(ev, "ts", "1 hour", "user_id").collect()
    }
    bitmap = {
        (r.window_end_s, r.uv)
        for r in distinct.bitmap_unique_count(ev, "ts", "1 hour", "user_id").collect()
    }
    assert bitmap == exact


def test_bitmap_census_is_retry_idempotent(spark, sf_dir):
    """A retried micro-batch re-appends byte-identical fragments; the
    OR-merge census must be invariant under duplicated fragment rows."""
    from gmall_flink_20_spark.operators import distinct

    ev = load_table(spark, sf_dir, "events")
    frags = distinct.bitmap_fragments(ev, "ts", "1 hour", "user_id")
    once = {
        (r.window_end_s, r.uv)
        for r in distinct.bitmap_census(frags).collect()
    }
    doubled = {
        (r.window_end_s, r.uv)
        for r in distinct.bitmap_census(frags.unionAll(frags)).collect()
    }
    assert doubled == once


def test_bitmap_fragments_are_64x_smaller_than_ids(spark, sf_dir):
    """The scale claim: fragment count per window is bounded by
    ceil(|distinct ids| / 64) summed over buckets — never id-scale."""
    from gmall_flink_20_spark.operators import distinct

    ev = load_table(spark, sf_dir, "events")
    frags = distinct.bitmap_fragments(ev, "ts", "1 hour", "user_id")
    n_frags = frags.count()
    n_pairs = (
        ev.select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .count()
    )
    assert n_frags <= n_pairs
    # every fragment covers at least one id, at most 64
    total_bits = frags.select(F.sum(F.bit_count("bits"))).first()[0]
    assert total_bits == n_pairs


# ------------------------------------------------ OPQ


def test_opq_rotation_is_orthogonal_and_beats_pq(spark, sf_dir):
    import numpy as np

    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    R, books, e_opq, e_pq = ann.opq_train_local(emb)
    Rm = np.array(R)
    assert np.allclose(Rm @ Rm.T, np.eye(64), atol=1e-9)
    # keep-best includes the R=I (plain PQ) start, so this holds by
    # construction — a regression in the alternation flips it
    assert e_opq <= e_pq
    assert len(books) == 8 and all(len(b) == 16 for b in books)


def test_opq_persisted_equals_in_session(spark, sf_dir, tmp_path):
    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "opq")
    ann.opq_index_write(emb, path)
    insess = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_opq_topk(emb, list(range(10)), 5).collect()
    }
    reload = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_opq_persisted_topk(spark, path, emb, list(range(10)), 5).collect()
    }
    assert insess == reload


def test_opq_train_is_memoized_and_deterministic(spark, sf_dir):
    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    a = ann.opq_train_local(emb)
    ann.clear_artifact_memo()
    b = ann.opq_train_local(emb)
    assert a == b


# ------------------------------------------------ atomic segments


def _ivf_rows(spark, path, emb):
    from gmall_flink_20_spark.operators import ann

    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann.ann_ivf_persisted_topk(
            spark, path, emb, list(range(10)), 5, nprobe=4
        ).collect()
    }


def test_staged_segment_is_invisible_until_commit(spark, sf_dir, tmp_path):
    from gmall_flink_20_spark import io_sinks
    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    delta = emb.filter(F.col("vec_id") % 10 == 9)
    path = str(tmp_path / "ivf")
    ann.ivf_index_write(base, path, nlist=16, train_iters=3)
    pre = _ivf_rows(spark, path, emb)
    ann.ivf_index_append(delta, path, "t1", commit=False)
    assert _ivf_rows(spark, path, emb) == pre  # in-flight: invisible
    io_sinks.commit_segment(path, "t1")
    post = _ivf_rows(spark, path, emb)
    assert io_sinks.read_with_segments(spark, path, "postings").count() == emb.count()
    # the two-phase commit must equal a one-phase append
    path2 = str(tmp_path / "ivf2")
    ann.ivf_index_write(base, path2, nlist=16, train_iters=3)
    ann.ivf_index_append(delta, path2, "t1")
    assert post == _ivf_rows(spark, path2, emb)


def test_compact_absorbs_segments_and_purges(spark, sf_dir, tmp_path):
    import os

    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    delta = emb.filter(F.col("vec_id") % 10 == 9)
    path = str(tmp_path / "ivf")
    ann.ivf_index_write(base, path, nlist=16, train_iters=3)
    ann.ivf_index_append(delta, path, "t1")
    before = _ivf_rows(spark, path, emb)
    ann.ivf_index_compact(spark, path)
    assert _ivf_rows(spark, path, emb) == before  # result-invariant
    assert not [d for d in os.listdir(path) if d.startswith("seg_")]  # purged


def test_reader_skips_absorbed_segment_left_by_crash(spark, sf_dir, tmp_path):
    """Crash window between the compactor's swap and its segment purge:
    the absorbed segment is still on disk but the live frame's
    _absorbed marker (committed WITH the swap) makes readers skip it —
    no double counting."""
    import os
    import shutil

    from gmall_flink_20_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    delta = emb.filter(F.col("vec_id") % 10 == 9)
    path = str(tmp_path / "ivf")
    ann.ivf_index_write(base, path, nlist=16, train_iters=3)
    ann.ivf_index_append(delta, path, "t1")
    saved = str(tmp_path / "seg_saved")
    shutil.copytree(f"{path}/seg_t1", saved)
    before = _ivf_rows(spark, path, emb)
    ann.ivf_index_compact(spark, path)  # absorbs + purges t1
    shutil.copytree(saved, f"{path}/seg_t1")  # resurrect the crash state
    assert os.path.isfile(f"{path}/postings/_absorbed")
    assert _ivf_rows(spark, path, emb) == before  # skipped, not doubled
    # the next maintenance pass cleans it up
    ann.ivf_index_compact(spark, path)
    assert not os.path.isdir(f"{path}/seg_t1")


def test_lsh_segment_publishes_both_frames_atomically(spark, sf_dir, tmp_path):
    from gmall_flink_20_spark import io_sinks
    from gmall_flink_20_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 8 == 0))
    query = docs.filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 8 != 0))
    path = str(tmp_path / "lsh")
    dedup.lsh_index_write(base, path)
    rows = lambda: {  # noqa: E731
        (r.doc_id, r.kept)
        for r in dedup.lsh_index_query_incremental(spark, path, query).collect()
    }
    pre = rows()
    dedup.lsh_index_append(delta, path, "t1", commit=False)
    assert rows() == pre
    io_sinks.commit_segment(path, "t1")
    post = rows()
    # both frames are row-local, so base + the committed segment must
    # answer like an index written over base ∪ delta in one go
    path2 = str(tmp_path / "lsh2")
    dedup.lsh_index_write(base.unionByName(delta), path2)
    post2 = {
        (r.doc_id, r.kept)
        for r in dedup.lsh_index_query_incremental(spark, path2, query).collect()
    }
    assert post == post2
    # compaction absorbs both frames and stays result-invariant
    dedup.lsh_index_compact(spark, path)
    assert rows() == post


def test_phash_segment_append_atomic(spark, sf_dir, tmp_path):
    from gmall_flink_20_spark import io_sinks
    from gmall_flink_20_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 1))
    query = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 3))
    path = str(tmp_path / "ph")
    mm.phash_index_write(mm.image_dhash(mm.encode_media(base)), path)
    qh = mm.image_dhash(mm.encode_media(query))
    rows = lambda: {  # noqa: E731
        (r.media_id, r.kept)
        for r in mm.phash_index_query_incremental(spark, path, qh).collect()
    }
    pre = rows()
    dh = mm.image_dhash(mm.encode_media(delta))
    mm.phash_index_append(dh, path, "t1", commit=False)
    assert rows() == pre
    io_sinks.commit_segment(path, "t1")
    post = rows()
    # equals an index written over base ∪ delta in one go
    path2 = str(tmp_path / "ph2")
    mm.phash_index_write(mm.image_dhash(mm.encode_media(base.unionByName(delta))), path2)
    post2 = {
        (r.media_id, r.kept)
        for r in mm.phash_index_query_incremental(spark, path2, qh).collect()
    }
    assert post == post2


# ------------------------------------------------ baseline JPEG codec


def test_jpeg_tier_roundtrip_is_bit_exact():
    import numpy as np

    from gmall_flink_20_spark.operators import multimodal as mm

    # round 12 made _jpeg_encode two-tier: EVEN ids stay grayscale
    # (this test's surface); odd ids are the YCbCr 4:2:0 tier, covered
    # by test_round12_ops.test_jpeg_color_tier_roundtrip_is_bit_exact
    for mid in (0, 2, 8, 16, 100, 9998):
        P = mm._jpeg_tier_pixels(mid).astype(np.int64)
        w, h, cs, cq = mm._jpeg_decode_gray(mm._jpeg_encode(mid))
        assert (w, h) == (16, 16)
        assert cs == int(P.sum()) and cq == int((P * P).sum())


def test_jpeg_generic_roundtrip_near_lossless():
    """quant=1 baseline JPEG on arbitrary images: the only loss is the
    double rounding DCT→int→IDCT→int, bounded per pixel."""
    import numpy as np

    from gmall_flink_20_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 32)).astype(np.int64)
    w, h, cs, cq = mm._jpeg_decode_gray(mm._jpeg_encode_gray(img))
    assert (w, h) == (32, 24)
    # feature sums stay within a small relative envelope
    assert abs(cs - int(img.sum())) <= img.size * 3
    # a quant table > 1 exercises the dequant path
    q = np.full((8, 8), 4, dtype=np.int64)
    q[0, 0] = 1
    w2, _, cs2, _ = mm._jpeg_decode_gray(mm._jpeg_encode_gray(img, quant=q))
    assert w2 == 32 and abs(cs2 - int(img.sum())) <= img.size * 12


def test_jpeg_tier_stream_contains_zrl():
    """The AC(4,4) coefficient sits 34 zigzag zeros after DC, so every
    block with d != 0 must emit ZRL codes — assert the decoder actually
    walks that path by checking a d=0-everywhere image differs in
    length from a d!=0 one (ZRL+coeff bits present)."""
    import numpy as np

    from gmall_flink_20_spark.operators import multimodal as mm

    flat = mm._jpeg_encode_gray(np.full((8, 8), 100, dtype=np.int64))
    g = np.array(mm._JPG_G)
    textured = mm._jpeg_encode_gray(100 + 16 * np.outer(g, g))
    assert len(textured) > len(flat)
    w, h, cs, cq = mm._jpeg_decode_gray(textured)
    assert cs == 100 * 64 and cq == 64 * (100 * 100 + 16 * 16)


def test_jpeg_decoder_rejects_what_it_cannot_parse():
    import numpy as np
    import pytest as _pytest

    from gmall_flink_20_spark.operators import multimodal as mm

    with _pytest.raises(ValueError):
        mm._jpeg_decode_gray(b"\x89PNG")
    good = mm._jpeg_encode_gray(np.full((8, 8), 50, dtype=np.int64))
    # flip SOF0 to SOF2 (progressive) — must refuse loudly
    bad = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        mm._jpeg_decode_gray(bad)


# ------------------------------------------------ tiered window builder


def test_tiered_window_builder_slot_math():
    from gmall_flink_20_spark import queries as q

    stale = [f"tail_{i}" for i in range(300)]
    new = [f"new_{i}" for i in range(8)]
    w, rest, bound = q.compose_tiered_window(
        11, new, stale, size=50,
        canaries=["c1", "c2"], heavy=["h1", "h2", "h3", "h4"],
    )
    assert len(w) == 50 and len(set(w)) == 50
    # priority: new first, canaries every round, odd-parity heavy half
    assert w[:8] == new
    assert {"c1", "c2"} <= set(w)
    assert {"h2", "h4"} <= set(w) and not {"h1", "h3"} & set(w)
    # even parity flips the heavy half
    w2, _, _ = q.compose_tiered_window(
        12, new, stale, size=50,
        canaries=["c1", "c2"], heavy=["h1", "h2", "h3", "h4"],
    )
    assert {"h1", "h3"} <= set(w2) and not {"h2", "h4"} & set(w2)
    # long tail fills oldest-first and the bound is ceil(rest/slots)+1
    slots = 50 - len({*new, "c1", "c2", "h2", "h4"})
    assert w[-slots:] == stale[:slots]
    assert rest == stale[slots:]
    assert bound == -(-len(rest) // slots) + 1


def test_tiered_window_dedup_and_names_are_real():
    from gmall_flink_20_spark import queries as q

    # the configured tier lists point at live registry entries
    assert set(q._TIER_CANARIES) <= set(q._ALL)
    assert set(q._TIER_HEAVY) <= set(q._ALL)
    # a canary that is also new this round occupies ONE slot
    w, _, _ = q.compose_tiered_window(
        11, ["c1"], [f"t{i}" for i in range(100)], size=10,
        canaries=["c1"], heavy=[],
    )
    assert w.count("c1") == 1 and len(w) == 10


def test_r11_window_contract():
    from gmall_flink_20_spark import queries as q

    # updated each rotation: the CURRENT round's window fronts the dict
    assert list(q.QUERIES)[:50] == q._R13_WINDOW
    assert set(q.R11_NEW) <= set(q._R11_WINDOW)
    # the rollover is exactly the oldest-first suffix of r10's
    assert q._R11_ROLLOVER == q._R10_ROLLOVER[-len(q._R11_ROLLOVER):]
    assert q._STALENESS_BOUND_ROUNDS <= 6
