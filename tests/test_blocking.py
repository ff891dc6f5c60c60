"""Bounded triangle-partitioned self-join (operators/blocking.py):
exact all-pairs membership + the per-task pair bound on a skewed block."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from gmall_flink_20_spark.operators import ann, blocking, dedup


def _mkdf(spark, sizes: dict[str, int]):
    rows = []
    i = 0
    for blk, n in sizes.items():
        for _ in range(n):
            rows.append((blk, i, float(i % 7)))
            i += 1
    return spark.createDataFrame(rows, "blk string, id long, payload double")


def test_bounded_pairs_exact_membership_and_task_bound(spark):
    # one monster block (quadratic if unbounded), two small ones
    df = _mkdf(spark, {"big": 250, "s1": 8, "s2": 1})
    cap = 50
    got = blocking.bounded_block_pairs(df, ["blk"], "id", cap_rows=cap, keep_task_cols=True)
    rows = got.collect()

    exp = set()
    base = {r.id: r.blk for r in df.collect()}
    by_blk: dict[str, list[int]] = {}
    for rid, blk in base.items():
        by_blk.setdefault(blk, []).append(rid)
    for ids in by_blk.values():
        exp |= {(a, b) for a, b in combinations(sorted(ids), 2)}

    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs))  # no duplicates
    assert set(pairs) == exp  # exact all-pairs membership
    assert all(r.id_a < r.id_b for r in rows)  # normalized orientation

    # per-task bound: hashed sub-groups are ~cap rows, so each (blk, i, j)
    # task evaluates ~cap^2 pairs; allow 4x slack for hash imbalance
    per_task: dict[tuple, int] = {}
    for r in rows:
        per_task[(r.blk, r._i, r._j)] = per_task.get((r.blk, r._i, r._j), 0) + 1
    assert max(per_task.values()) <= 4 * cap * cap
    # the monster block actually fanned out over multiple tasks
    big_tasks = {k for k in per_task if k[0] == "big"}
    assert len(big_tasks) >= 10  # G=5 -> 15 triangle tasks


def test_jaccard_blocked_capped_equals_uncapped(spark):
    rows = [(i, "en", "web", f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} tail{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    uncapped = {
        (r.doc_a, r.doc_b, r.inter_sz, r.union_sz)
        for r in dedup.jaccard_blocked(df, n=1, block_cap_rows=10**9).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.inter_sz, r.union_sz)
        for r in dedup.jaccard_blocked(df, n=1, block_cap_rows=16).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_cosine_neardup_capped_equals_uncapped(spark):
    rows = [
        (i, i % 2, [float(i % 5 + 1), float((i + 1) % 3 + 1), 1.0])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    uncapped = {
        (r.vec_a, r.vec_b)
        for r in ann.cosine_near_dup_blocked(emb, 0.95, block_cap_rows=10**9).collect()
    }
    capped = {
        (r.vec_a, r.vec_b)
        for r in ann.cosine_near_dup_blocked(emb, 0.95, block_cap_rows=12).collect()
    }
    assert capped == uncapped and len(capped) > 0


# ------------------------------------------------- max_block_rows guard
# VERDICT r5 item 2: the quadratic exhaustive path must not be enterable
# accidentally — a degenerate blocking key (one giant block) raises at
# execution time instead of silently running B²/2 pair evaluations.


def test_degenerate_block_raises(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = _mkdf(spark, {"all_same": 120})
    guarded = blocking.bounded_block_pairs(
        df, ["blk"], "id", cap_rows=50, max_block_rows=100
    )
    with pytest.raises(Exception) as ei:
        guarded.count()
    assert "max_block_rows" in str(ei.value)
    assert "all_same" in str(ei.value)  # the offending block is named


def test_guard_passes_under_limit_and_none_disables(spark):
    df = _mkdf(spark, {"big": 120, "small": 5})
    # under the limit: identical answer to the unguarded plan
    unguarded = {
        (r.id_a, r.id_b)
        for r in blocking.bounded_block_pairs(df, ["blk"], "id", cap_rows=50).collect()
    }
    guarded = {
        (r.id_a, r.id_b)
        for r in blocking.bounded_block_pairs(
            df, ["blk"], "id", cap_rows=50, max_block_rows=120
        ).collect()
    }
    assert guarded == unguarded and len(guarded) > 0
    # None = documented exhaustive escape hatch, no guard in the plan
    escape = {
        (r.id_a, r.id_b)
        for r in blocking.bounded_block_pairs(
            df, ["blk"], "id", cap_rows=50, max_block_rows=None
        ).collect()
    }
    assert escape == unguarded


def test_cosine_neardup_guard_wired(spark):
    import pytest

    rows = [(i, 0, [1.0, 2.0, 3.0]) for i in range(40)]  # one block of 40
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    with pytest.raises(Exception) as ei:
        ann.cosine_near_dup_blocked(emb, 0.5, max_block_rows=10).count()
    assert "max_block_rows" in str(ei.value)
    # generous bound: passes and matches the unguarded answer
    got = {
        (r.vec_a, r.vec_b)
        for r in ann.cosine_near_dup_blocked(emb, 0.5, max_block_rows=1000).collect()
    }
    assert len(got) == 40 * 39 // 2  # identical vectors: every pair


def test_jaccard_blocked_guard_wired(spark):
    import pytest

    rows = [(i, "en", "web", "a b c d") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    with pytest.raises(Exception) as ei:
        dedup.jaccard_blocked(df, n=1, max_block_rows=10).count()
    assert "max_block_rows" in str(ei.value)


def test_sig_and_shingles_matches_split_operators(spark):
    # r14: the combined one-pass frame must agree with the split
    # operators value-for-value — sig arrays exactly, shingle sets as
    # SETS (collect_set order is execution-dependent in both forms)
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with other words here"),
        (3, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    combined = {
        r.doc_id: (list(r.sig), frozenset(r.shingles))
        for r in dedup.minhash_sig_and_shingles(df, n=3, num_hashes=16).collect()
    }
    sig = {
        r.doc_id: list(r.sig)
        for r in dedup.minhash_signature_permuted(df, n=3, num_hashes=16).collect()
    }
    sh = {
        r.doc_id: frozenset(r.shingles)
        for r in dedup.hashed_shingle_sets(df, n=3).collect()
    }
    assert set(combined) == set(sig) == set(sh)
    for d, (s, h) in combined.items():
        assert s == sig[d], d
        assert h == sh[d], d


def test_jaccard_blocked_kernel_chunking_exact(spark):
    # r14 kernel internals: force the grouped-cartesian expansion through
    # multiple sub-group tasks AND verify exact (inter, union, jaccard)
    # against a Python set model, including a hot shingle shared by every
    # doc (the worst-case intersection-mass shape the chunked expansion
    # bounds)
    import itertools

    texts = []
    for i in range(12):
        words = ["common"] + [f"w{i}_{j}" for j in range(3)] + ["shared"] * (i % 3)
        texts.append((i, "en", "web", " ".join(words)))
    df = spark.createDataFrame(texts, "doc_id long, lang string, source string, text string")
    got = {
        (r.doc_a, r.doc_b): (r.inter_sz, r.union_sz, r.jaccard)
        for r in dedup.jaccard_blocked(df, n=1, block_cap_rows=4).collect()
    }
    # python model over 1-gram distinct token sets
    sets = {i: set(t.split()) for i, _, _, t in texts}
    exp = {}
    for a, b in itertools.combinations(range(12), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        union = len(sets[a] | sets[b])
        exp[(a, b)] = (inter, union, inter / union)
    assert got == exp


def test_jaccard_blocked_tiny_chunk_equals_single_chunk(spark, monkeypatch):
    # the kernel's grouped-cartesian expansion in chunks of 4 index pairs
    # (hundreds of chunks per task) must give exactly the one-chunk answer
    rows = [(i, "en", "web", f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} tail{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")

    def run():
        return sorted(tuple(r) for r in dedup.jaccard_blocked(df, n=1).collect())

    one_chunk = run()
    monkeypatch.setattr(dedup, "_JACCARD_CHUNK_PAIRS", 4)
    assert run() == one_chunk and len(one_chunk) > 0
