"""Deduplication operators for training-data pipelines.

Beyond-reference scope: exact dedup (hash-groupBy), MinHash+LSH near-dup
(shingle → minhash signature → band → bucket-join), and n-gram Jaccard
verification. Designed shuffle-light for 100 TB:

- exact: one groupBy on a 128-bit content hash — partial aggregation
  collapses duplicates map-side before the shuffle.
- minhash-lsh: shingling, signatures and band keys are all row-local
  higher-order-function expressions (array_distinct/transform/array_min —
  whole-stage codegen, zero Python); the ONLY shuffle is the band-bucket
  self-join on a uniform hash key.
- jaccard verify: per-doc shingle sets travel as arrays, so the exact
  intersection is a row-local ``array_intersect`` after the pair join —
  never an exploded shingle-level join.

Determinism contract: hashes are md5 hex strings (DuckDB computes the same
md5, so min() over signatures agrees bit-for-bit). At production scale
you'd swap md5 for xxhash64 — identical plan shape, cheaper hash.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import blocking
from ._cache import eager_persist

# k-permutation minhash: h_s(x) = (a_s·x + c_s) mod P over ONE 60-bit base
# hash per shingle (16× fewer md5 calls than hashing per seed). P = 2³¹−1
# keeps a_s·x < 2⁶² (no int64 overflow); constants derive from md5 so any
# engine regenerates them.
MINHASH_P = 2147483647

# jaccard_blocked's exact-intersection kernel expands co-occurring
# shingle groups into at most this many (row_a, row_b) index pairs per
# chunk, bounding the kernel's memory on skewed blocks.
_JACCARD_CHUNK_PAIRS = 32 << 20


def minhash_perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for s in range(num_hashes):
        a = int(hashlib.md5(f"a:{s}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        c = int(hashlib.md5(f"c:{s}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, c))
    return out

__all__ = [
    "bloom_membership_report",
    "source_minhash_sim",
    "neardup_threshold_sweep",
    "dup_provenance",
    "dedup_savings",
    "minhash_calibration",
    "hashed_shingle_sets",
    "dedup_exact",
    "shingle_array",
    "shingles",
    "minhash_signature_array",
    "minhash_signature_permuted",
    "minhash_signatures",
    "minhash_perm_consts",
    "band_keys",
    "lsh_candidate_pairs",
    "jaccard_verify",
    "jaccard_blocked",
    "neardup_verified",
    "neardup_edit_verified",
    "novelty_rate",
    "lsh_index_write",
    "lsh_index_query_incremental",
    "lsh_index_append",
    "lsh_index_compact",
]


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: (fp, keeper id, group size)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def _shingle_expr(text_col: str, n: int) -> Column:
    """Distinct n-word shingles as a row-local array expression (codegen'd,
    no explode): slice a whitespace token array at each start offset."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    return F.expr(
        f"array_distinct(transform(sequence(0, size({toks}) - {n}), "
        f"i -> array_join(slice({toks}, i + 1, {n}), ' ')))"
    )


def shingle_array(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id", parallelism: int | None = None
) -> DataFrame:
    """(id, shingles: array<string>) — docs shorter than n words dropped.

    ``parallelism``: explicit repartition before the (CPU-heavy) shingle/
    hash expressions. A small single-file corpus otherwise reads as ONE
    partition and serializes all hashing on one core; on a real multi-split
    corpus the scan already provides parallelism and this can stay None.
    """
    if parallelism:
        df = df.repartition(parallelism, F.col(id_col))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return df.filter(F.size(toks) >= n).select(
        F.col(id_col), _shingle_expr(text_col, n).alias("shingles")
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exploded (id, shingle) rows — the row-level view of shingle_array."""
    return shingle_array(df, n, text_col, id_col).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def _sig_expr(num_hashes: int, shingles_col: str = "shingles") -> Column:
    """MinHash signature: sig[s] = min over shingles of md5(s || ':' || sh).
    Row-local array of array_min's (kept for the no-shuffle variant)."""
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"s -> array_min(transform({shingles_col}, sh -> md5(cast(concat(cast(s as string), ':', sh) as binary)))))"
    )


def minhash_signature_array(
    shingle_arr: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig: array<string>[num_hashes]).

    Explode + flat-column hashing + one min-aggregate: nested higher-order
    lambdas fall out of whole-stage codegen (interpreted, ~10× slower), so
    the hash columns are plain md5 projections over exploded shingle rows
    — fully codegen'd — and the signature reassembles via num_hashes
    ``min()`` aggregates in a single shuffle on the doc key.
    """
    exploded = shingle_arr.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    return _min_agg_signature(exploded, num_hashes, id_col)


def _min_agg_signature(exploded: DataFrame, num_hashes: int, id_col: str) -> DataFrame:
    hash_cols = [
        F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")).cast("binary")).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return (
        exploded.select(F.col(id_col), *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)])
        .select(
            F.col(id_col),
            F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig"),
        )
    )


def shingle_rows_from_text(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, shingle) rows via explode(sequence) + element_at — fully
    codegen (no higher-order lambdas). May contain duplicate shingles."""
    if parallelism:
        df = df.repartition(parallelism, F.col(id_col))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("toks")).filter(F.size("toks") >= n)
    return base.select(
        F.col(id_col),
        F.col("toks"),
        F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("i"),
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(n)]
        ).alias("shingle"),
    )


def minhash_signature_from_text(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Fastest signature path: shingle positions exploded via
    ``explode(sequence(...))`` + ``element_at`` — every expression is
    codegen-friendly (no higher-order lambdas, which Spark interprets).
    Duplicate shingles are NOT removed: min() over a multiset equals min()
    over its set, so the distinct step is provably unnecessary here.
    """
    exploded = shingle_rows_from_text(df, n, text_col, id_col, parallelism)
    return _min_agg_signature(exploded, num_hashes, id_col)


def minhash_signature_permuted(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) via k affine permutations of one base hash.

    ``minhash_signature_from_text`` pays num_hashes md5 calls per shingle;
    here each shingle is md5'd ONCE into a 60-bit bigint and the k hash
    functions are (a_s·x + c_s) mod P — integer arithmetic both engines
    evaluate identically, and min() over a multiset still equals min()
    over the set so duplicate shingles need no dedup. Same plan shape:
    explode → flat projections → one groupBy with k min() aggregates.
    """
    rows = shingle_rows_from_text(df, n, text_col, id_col, parallelism)
    base = rows.select(
        F.col(id_col),
        F.expr(
            f"CAST(conv(substr(md5(shingle), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("b0"),
    )
    consts = minhash_perm_consts(num_hashes)
    hash_cols = [
        ((F.lit(a) * F.col("b0") + F.lit(c)) % MINHASH_P).alias(f"h{s}")
        for s, (a, c) in enumerate(consts)
    ]
    return (
        base.select(F.col(id_col), *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)])
        .select(
            F.col(id_col),
            F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_sig_and_shingles(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, sig array<bigint>, shingles array<bigint>) from ONE pass over
    the text (r14 optimization, guide §2.4 "share one exchange"): the
    near-dup pipelines all need BOTH the k-permutation signature and the
    exact 60-bit shingle set, and computed separately each pays its own
    tokenize→explode→md5 scan. One groupBy computes both, so (a) a plan
    that consumes sig and shingles through this frame contains ONE
    aggregation subtree — Spark's ReusedExchange dedupes the exchange and
    the scan/md5 work below it executes once — and (b) index writers can
    materialize it once for both output frames.

    Bit-equivalence to the split operators (the values, not the array
    order of the set): ``sig`` applies the identical (aₛ·b₀+cₛ) mod P
    permutations to b₀ = h₆₀ mod P, and ``shingles`` is collect_set over
    the identical h₆₀ = 60-bit md5 of the same shingle string —
    collect_set order is execution-dependent, exactly as in
    ``hashed_shingle_sets``, and every consumer is order-insensitive
    (array_intersect / size)."""
    rows = shingle_rows_from_text(df, n, text_col, id_col, parallelism)
    base = rows.select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substr(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h60"),
    )
    consts = minhash_perm_consts(num_hashes)
    b0 = F.col("h60") % MINHASH_P
    hash_cols = [
        ((F.lit(a) * b0 + F.lit(c)) % MINHASH_P).alias(f"h{s}")
        for s, (a, c) in enumerate(consts)
    ]
    return (
        base.select(F.col(id_col), F.col("h60"), *hash_cols)
        .groupBy(id_col)
        .agg(
            F.collect_set("h60").alias("shingles"),
            *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)],
        )
        .select(
            F.col(id_col),
            F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig"),
            F.col("shingles"),
        )
    )


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Row-level (id, seed, minhash) view (kept for tests/compat; the LSH
    path uses the array form)."""
    arr = (
        shingle_df.groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
        .select(F.col(id_col), _sig_expr(num_hashes).alias("sig"))
    )
    return arr.select(
        F.col(id_col), F.posexplode("sig").alias("seed", "minhash")
    )


def band_keys(
    sig_df: DataFrame, bands: int, rows_per_band: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_id, band_key): band_key = md5 of the band's sorted
    'seed:minhash' strings — bounded-cardinality uniform join key."""
    outs = []
    for b in range(bands):
        parts = F.array(
            *[
                F.concat_ws(
                    ":",
                    F.lit(str(b * rows_per_band + r)),
                    # explicit string cast: sig elements are md5 strings or
                    # permuted-minhash bigints depending on the signature path
                    F.element_at("sig", b * rows_per_band + r + 1).cast("string"),
                )
                for r in range(rows_per_band)
            ]
        )
        outs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", F.array_sort(parts)).cast("binary")).alias("band_key"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*outs)).alias("bk")
    ).select(F.col(id_col), F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    from_array: bool = False,
) -> DataFrame:
    """Self-join band buckets → candidate pairs (doc_a < doc_b).

    ``sig_df`` is either the row-level (id, seed, minhash) form or, with
    ``from_array=True``, the (id, sig array) form (preferred: no
    signature shuffle at all).
    """
    if from_array:
        banded = band_keys(sig_df, bands, rows_per_band, id_col)
    else:
        arr = sig_df.groupBy(id_col).agg(
            F.array_sort(F.collect_list(F.struct("seed", "minhash"))).alias("sm")
        ).select(F.col(id_col), F.expr("transform(sm, x -> x.minhash)").alias("sig"))
        banded = band_keys(arr, bands, rows_per_band, id_col)
    # Bucket-local pair generation instead of a band self-join: one
    # groupBy collects each bucket's (sorted) ids, then pairs expand
    # row-locally — no second lineage computation, no join, one less
    # shuffle (~2× faster measured). A pathological bucket (everything
    # identical) concentrates its quadratic pairs in one task — exactly
    # the same placement a band-key equi-join would produce.
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard_blocked(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.0,
    block_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
    block_cap_rows: int = 2000,
    max_block_rows: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard for every same-block doc pair, with bounded
    per-task work.

    Two wins over pairs + jaccard_verify:
    - shingles travel as 60-bit md5 hashes (bigint): the per-pair
      ``array_intersect`` compares longs, not strings (~3× cheaper), and
      both engines hash identically so results agree bit-for-bit even in
      the ≈2⁻⁶⁰ collision case (a collision perturbs both the same way);
    - pair enumeration and shingle-set attachment fuse into one
      block-keyed join instead of a pairs join plus two array joins.

    Blocks larger than ``block_cap_rows`` are triangle-partitioned
    (operators/blocking.py) so no single task is quadratic in a
    data-dependent block size — the answer is identical, a monster block
    just fans out over many tasks. For truly unbounded corpora prefer
    ``neardup_verified`` (LSH bounds the candidate set instead).
    """
    if parallelism:
        df = df.repartition(parallelism, F.col(id_col))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], toks.alias("toks")
    ).filter(F.size("toks") >= n)
    rows = base.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.col("toks"),
        F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("i"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.expr(
            "CAST(conv(substr(md5(concat_ws(' ', "
            + ", ".join(f"element_at(toks, i + {j + 1})" for j in range(n))
            + ")), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    # both task-layout consumers share this lineage: hash the corpus once
    arr = eager_persist(rows.groupBy(id_col, *block_cols).agg(F.collect_set("h").alias("sh")))
    # r14 (VERDICT r13 item 4): ship each row once per triangle sub-task
    # (rows×nsub, never pairs) and intersect ALL of a task's pairs in one
    # vectorized numpy kernel — the exact-integer analog of the
    # semantic_dedup GEMM scorer. The former bounded_block_pairs plan
    # materialized every pair row (shingle arrays duplicated per pair
    # through a sort-merge join) and paid an interpreted array_intersect
    # per pair. Counts are exact integers; the jaccard double is the same
    # single IEEE-754 division both engines round identically.
    tasks = blocking.bounded_block_task_rows(
        arr, block_cols, id_col, cap_rows=block_cap_rows, max_block_rows=max_block_rows
    )
    thr = float(threshold)
    step = _JACCARD_CHUNK_PAIRS
    id_type = df.schema[id_col].dataType.simpleString()

    def _jac_tasks(pdf):
        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame(
                {
                    "doc_a": np.empty(0, np.int64),
                    "doc_b": np.empty(0, np.int64),
                    "inter_sz": np.empty(0, np.int64),
                    "union_sz": np.empty(0, np.int64),
                    "jaccard": np.empty(0, np.float64),
                }
            )

        ids = pdf[id_col].to_numpy()
        sets = [np.asarray(s, dtype=np.int64) for s in pdf["sh"]]
        sizes = np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets))
        nrows = len(sets)
        diagonal = int(pdf["_i"].iat[0]) == int(pdf["_j"].iat[0])
        a_m = (pdf["_side"] == 0).to_numpy()
        if diagonal:
            ra_ids, rb_ids = ids, ids
            a_sets, b_sets = sets, sets
            sza, szb = sizes, sizes
        else:
            a_sets = [s for s, m in zip(sets, a_m) if m]
            b_sets = [s for s, m in zip(sets, a_m) if not m]
            ra_ids, rb_ids = ids[a_m], ids[~a_m]
            sza, szb = sizes[a_m], sizes[~a_m]
        na, nb = len(a_sets), len(b_sets)
        if na == 0 or nb == 0 or (diagonal and nrows < 2):
            return empty()

        def flat(side_sets):
            h = np.concatenate(side_sets)
            r = np.repeat(
                np.arange(len(side_sets), dtype=np.int64),
                np.fromiter((len(s) for s in side_sets), np.int64, len(side_sets)),
            )
            o = np.argsort(h, kind="stable")
            return h[o], r[o]

        hA, rA = flat(a_sets)
        hB, rB = (hA, rA) if diagonal else flat(b_sets)
        uA, sA, cA = np.unique(hA, return_index=True, return_counts=True)
        uB, sB, cB = (uA, sA, cA) if diagonal else np.unique(
            hB, return_index=True, return_counts=True
        )
        common, ia, ib = np.intersect1d(uA, uB, return_indices=True)
        if common.size == 0:
            return empty()
        la, lb = cA[ia], cB[ib]
        startA, startB = sA[ia], sB[ib]
        T = la * lb
        # exact pairwise co-occurrence counts via grouped cartesian
        # expansion + bincount — work and memory proportional to the
        # intersection MASS (Σ|A_v|·|B_v|), processed in bounded chunks
        C = np.zeros(na * nb, dtype=np.int64)
        cumT = np.concatenate(([0], np.cumsum(T)))
        total = int(cumT[-1])
        g0 = 0
        while g0 < len(T):
            g1 = int(np.searchsorted(cumT, cumT[g0] + step, side="left"))
            g1 = min(max(g1, g0 + 1), len(T))
            t = T[g0:g1]
            nT = int(t.sum())
            gid = np.repeat(np.arange(g0, g1), t)
            w = np.arange(nT, dtype=np.int64) - np.repeat(
                cumT[g0:g1] - cumT[g0], t
            )
            a_pos = startA[gid] + w // lb[gid]
            b_pos = startB[gid] + w % lb[gid]
            C += np.bincount(rA[a_pos] * nb + rB[b_pos], minlength=na * nb)
            g0 = g1
        C = C.reshape(na, nb)
        if diagonal:
            iu, ju = np.triu_indices(nrows, k=1)
        else:
            iu, ju = np.unravel_index(np.arange(C.size), C.shape)
        inter = C[iu, ju]
        keep = inter > 0
        iu, ju, inter = iu[keep], ju[keep], inter[keep]
        union = sza[iu] + szb[ju] - inter
        jac = inter.astype(np.float64) / union.astype(np.float64)
        keep2 = jac >= thr
        ia_, ib_ = ra_ids[iu[keep2]], rb_ids[ju[keep2]]
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ia_, ib_),
                "doc_b": np.maximum(ia_, ib_),
                "inter_sz": inter[keep2],
                "union_sz": union[keep2],
                "jaccard": jac[keep2],
            }
        )

    return tasks.groupBy(*block_cols, "_i", "_j").applyInPandas(
        _jac_tasks,
        f"doc_a {id_type}, doc_b {id_type}, inter_sz long, union_sz long, jaccard double",
    )


def neardup_verified(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """The complete near-dup pipeline in one plan: k-permutation minhash
    → LSH banding → candidate pairs → exact hashed-shingle Jaccard ≥
    threshold.

    This is the canonical two-phase shape for 100 TB dedup: the cheap
    probabilistic phase bounds the candidate set (shuffles only band
    keys), and the exact phase touches only |candidates| × 2 shingle
    sets — broadcast-joined because candidates are small by construction.
    Emits (doc_a, doc_b, inter_sz, union_sz, jaccard).

    r14: signatures and shingle sets come from ONE combined pass
    (minhash_sig_and_shingles, eager-persisted): the banding branch and
    the two verify-join branches each consumed their own tokenize→md5
    scan before (column pruning splits the subtrees, so ReusedExchange
    cannot dedupe them — measured), so the corpus was hashed three times
    per plan; the persisted combined frame computes it once. The persist
    is per-doc (id, 16 longs, shingle set) — corpus-metadata scale, and
    MEMORY_AND_DISK spills gracefully; measured 1.74 → 1.31 s isolated
    at sf0.1.
    """
    cs = eager_persist(
        minhash_sig_and_shingles(df, n, num_hashes, text_col, id_col, parallelism)
    )
    pairs = lsh_candidate_pairs(
        cs.select(F.col(id_col), "sig"), bands, rows_per_band, id_col, from_array=True
    )
    return jaccard_verify(pairs, cs.select(F.col(id_col), "shingles"), threshold, id_col)


def hashed_shingle_sets(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, shingles: array<bigint>) distinct 60-bit hashed shingle sets —
    the exact-verification operand: hashing each shingle to a bigint
    makes the pairwise ``array_intersect`` integer-typed (cheap) and
    keeps the array KB-scale regardless of shingle text length.

    ``parallelism``: same contract as ``shingle_array`` — repartition
    before the CPU-heavy md5 expressions so a single-split corpus does
    not serialize hashing on one core."""
    if parallelism:
        df = df.repartition(parallelism, F.col(id_col))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("toks")).filter(F.size("toks") >= n)
    rows = base.select(
        F.col(id_col),
        F.col("toks"),
        F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("i"),
    ).select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substr(md5(concat_ws(' ', "
            + ", ".join(f"element_at(toks, i + {j + 1})" for j in range(n))
            + ")), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    return rows.groupBy(id_col).agg(F.collect_set("h").alias("shingles"))


def minhash_calibration(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash estimator-calibration report: for every LSH candidate
    pair, the signature agreement level (matching components of the
    k-permutation signature) against the EXACT shingle Jaccard — grouped
    by agreement level into ≤ num_hashes+1 rows: pair count, the
    estimator's implied Jaccard (matches/k), and the micro-averaged
    exact Jaccard (Σ|∩| / Σ|∪|). The unbiased-estimator property says
    est ≈ exact per level; a systematic gap is the QC signal that the
    shingle size / permutation family is mistuned for this corpus.

    Determinism: agreement counts and intersection/union sizes are exact
    integers; the micro-average divides two exact LONG sums (a mean of
    per-pair double ratios would be summation-order-dependent across
    engines — micro-averaging is the determinism-safe calibration form).

    Scale shape: candidates come from the same banding join the dedup
    pipeline pays; signatures and hashed sets join onto pairs as arrays
    (row-local zip/intersect, no shingle-level shuffle); the output is
    fixed-size at any corpus scale.
    """
    # r14: ONE persisted combined pass supplies signatures AND shingle
    # sets (the split form tokenized/md5-hashed the corpus once for each),
    # and each pair side attaches both columns in ONE join instead of two
    # (4 joins → 2). Measured 1.89 → 1.58 s isolated at sf0.1; grouped
    # outputs identical.
    cs = eager_persist(
        minhash_sig_and_shingles(df, n, num_hashes, text_col, id_col, parallelism)
    )
    pairs = lsh_candidate_pairs(
        cs.select(F.col(id_col), "sig"), bands, rows_per_band, id_col, from_array=True
    )
    ca = cs.select(
        F.col(id_col).alias("doc_a"),
        F.col("sig").alias("_sa"),
        F.col("shingles").alias("_ha"),
    )
    cb = cs.select(
        F.col(id_col).alias("doc_b"),
        F.col("sig").alias("_sb"),
        F.col("shingles").alias("_hb"),
    )
    scored = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            F.size(
                F.filter(
                    F.zip_with("_sa", "_sb", lambda a, b: a == b), lambda x: x
                )
            )
            .cast("long")
            .alias("n_matches"),
            F.size(F.array_intersect("_ha", "_hb")).cast("long").alias("_inter"),
            (
                F.size("_ha").cast("long")
                + F.size("_hb").cast("long")
                - F.size(F.array_intersect("_ha", "_hb")).cast("long")
            ).alias("_union"),
        )
    )
    return scored.groupBy("n_matches").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.round(F.col("n_matches").cast("double") / F.lit(float(num_hashes)), 6)
            + F.lit(0.0)
        ).alias("est_jaccard"),
        F.sum("_inter").cast("long").alias("sum_inter"),
        F.sum("_union").cast("long").alias("sum_union"),
        (
            F.round(
                F.sum("_inter").cast("double") / F.sum("_union").cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("micro_jaccard"),
    )


def dedup_savings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Dedup impact ledger: the near-dup CLUSTER-SIZE histogram with the
    token savings the min-id survivorship policy realizes — per cluster
    size: cluster count, member docs, duplicate docs (size − 1 each),
    and the total tokens those duplicates carry (what dedup deletes from
    the training corpus). The report a data-curation review reads before
    approving a dedup run — "we drop N docs / M tokens at these cluster
    sizes" — all exact integer arithmetic.

    Scale shape: reuses the banded-LSH → verify → connected-components
    pipeline (growth exponents ≤0.4, BASELINE.md), joins token counts
    onto the cluster frame (|clustered docs|, ≪ corpus), and reduces to
    ≤ max-cluster-size rows via two map-side-combined aggregates.
    """
    from .components import neardup_clusters

    pairs = neardup_verified(df, text_col=text_col, id_col=id_col, parallelism=parallelism)
    clusters = neardup_clusters(pairs.select("doc_a", "doc_b"))
    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("_nt"),
    )
    cl = (
        clusters.join(toks, id_col)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_sz"),
            F.sum(
                F.when(F.col(id_col) != F.col("cluster_id"), F.col("_nt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("_dup_toks"),
        )
    )
    return cl.groupBy("_sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("_sz").cast("long").alias("total_docs"),
        F.sum(F.col("_sz") - 1).cast("long").alias("dup_docs"),
        F.sum("_dup_toks").cast("long").alias("dup_tokens"),
    ).select(
        F.col("_sz").alias("cluster_size"),
        "n_clusters",
        "total_docs",
        "dup_docs",
        "dup_tokens",
    )


def jaccard_verify(
    pairs: DataFrame,
    shingle_df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    carry: tuple = (),
) -> DataFrame:
    """Exact Jaccard on candidate pairs: join each side's shingle *array*
    onto the pair and intersect row-locally (``array_intersect``), so cost
    is O(pairs × shingles-per-doc) with no shingle-level shuffle.

    Accepts either the exploded (id, shingle) frame or the (id, shingles)
    array frame. Emits exact integer (inter_sz, union_sz) plus their
    double ratio — bit-identical across engines.
    """
    if "shingles" in shingle_df.columns:
        arr = shingle_df
    else:
        arr = shingle_df.groupBy(id_col).agg(F.collect_set("shingle").alias("shingles"))
    za = arr.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    zb = arr.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        pairs.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("inter_sz", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .filter(F.col("inter_sz") > 0)
        .withColumn("union_sz", (F.size("sh_a") + F.size("sh_b")).cast("long") - F.col("inter_sz"))
        .withColumn("jaccard", F.col("inter_sz").cast("double") / F.col("union_sz").cast("double"))
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "inter_sz", "union_sz", "jaccard", *carry
    )


def containment_verify(
    pairs: DataFrame, shingle_df: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact CONTAINMENT on candidate pairs: |A∩B|/|A| and |A∩B|/|B|.

    Jaccard misses near-subset relationships — a paragraph quoted inside
    a much longer page has tiny Jaccard but containment ≈ 1. Containment
    is the score cross-document quote/boilerplate detection thresholds
    (Broder's original resemblance/containment pair).

    Same scale shape as ``jaccard_verify``: shingle sets travel as
    arrays, the intersection is row-local ``array_intersect`` after the
    pair join — no shingle-level shuffle. Keeps pairs whose LARGER
    containment clears ``threshold``; both directions are emitted as
    exact integer/double ratios.
    """
    arr = (
        shingle_df
        if "shingles" in shingle_df.columns
        else shingle_df.groupBy(id_col).agg(F.collect_set("shingle").alias("shingles"))
    )
    za = arr.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    zb = arr.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        pairs.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("inter_sz", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .filter(F.col("inter_sz") > 0)
        .withColumn("sz_a", F.size("sh_a").cast("long"))
        .withColumn("sz_b", F.size("sh_b").cast("long"))
        .withColumn(
            "containment_a", F.col("inter_sz").cast("double") / F.col("sz_a").cast("double")
        )
        .withColumn(
            "containment_b", F.col("inter_sz").cast("double") / F.col("sz_b").cast("double")
        )
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    ).select(
        "doc_a", "doc_b", "inter_sz", "sz_a", "sz_b", "containment_a", "containment_b"
    )


def neardup_containment(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """LSH-bounded containment detection: minhash → band candidates →
    exact containment ≥ threshold. The near-subset complement of
    ``neardup_verified`` with the identical two-phase scale shape (the
    probabilistic phase bounds candidates; the exact phase touches only
    candidate shingle arrays).

    r14: one persisted combined pass supplies signatures AND shingle
    sets (see neardup_verified — same rationale, measured win there)."""
    cs = eager_persist(
        minhash_sig_and_shingles(df, n, num_hashes, text_col, id_col, parallelism)
    )
    pairs = lsh_candidate_pairs(
        cs.select(F.col(id_col), "sig"), bands, rows_per_band, id_col, from_array=True
    )
    return containment_verify(
        pairs, cs.select(F.col(id_col), "shingles"), threshold, id_col
    )


def dedup_incremental(
    df: DataFrame,
    num_shards: int = 4,
    new_shard: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "incr",
) -> DataFrame:
    """Incremental exact dedup: dedup a NEW ingest shard against the
    already-curated BASE corpus without re-deduplicating the base — the
    shape every continuously-crawled corpus runs (the base's content
    hashes are an index you keep; each new crawl deduplicates against it
    plus itself).

    The shard split here is a deterministic salted hash of the doc id
    (shard ``new_shard`` of ``num_shards`` plays the "new crawl"), so
    both engines carve identical shards out of the same table. Survivors
    are new-shard docs that (a) match no base-corpus content hash
    (LEFT ANTI join — at scale this is a hash-partitioned probe of the
    stored fingerprint index, never a scan of base text) and (b) are the
    lowest-id copy of their hash within the new shard (one window on the
    uniform content hash).

    Emits (doc_id, content_hash) for surviving new-shard docs.
    """
    from pyspark.sql import Window

    from .sampling import sample_hash

    shard = F.pmod(sample_hash(id_col, salt), F.lit(num_shards))
    fp = F.md5(F.col(text_col).cast("binary"))
    hashed = df.select(F.col(id_col), fp.alias("content_hash"), shard.alias("_shard"))
    base = hashed.filter(F.col("_shard") != new_shard).select("content_hash").distinct()
    new = hashed.filter(F.col("_shard") == new_shard).drop("_shard")
    survivors = new.join(base, "content_hash", "left_anti")
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "content_hash")
    )


def neardup_incremental(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.3,
    num_shards: int = 4,
    new_shard: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "incr",
    parallelism: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup dedup: fuzzy-deduplicate a new ingest shard
    against the already-curated base corpus — the fuzzy complement of
    ``dedup_incremental`` (exact hashes catch byte-identical recrawls;
    this catches the re-rendered/boilerplate-shifted copies).

    A new-shard document is dropped iff it has a verified Jaccard ≥
    ``threshold`` neighbor that is either (a) any base-corpus document
    or (b) a lower-id new-shard document (first-copy-wins within the
    ingest, matching the exact variant's keeper rule). Base documents
    are never re-deduplicated against each other.

    Scale shape: identical two-phase LSH bound as ``neardup_verified`` —
    the band self-join is the one shuffle, and candidate pairs are
    FILTERED to those touching the new shard before the exact-Jaccard
    phase, so verification cost tracks the ingest size, not the corpus.
    In production the base side's signatures/band keys come from the
    stored index built when the base was curated (signatures are
    row-local expressions here, so recomputing them in the test harness
    exercises the same plan).

    Emits (doc_id, kept 0/1) for every new-shard document.
    """
    from .sampling import sample_hash

    shards = df.select(
        F.col(id_col),
        F.pmod(sample_hash(id_col, salt), F.lit(num_shards)).alias("_shard"),
    )
    sig = minhash_signature_permuted(df, n, num_hashes, text_col, id_col, parallelism)
    pairs = lsh_candidate_pairs(sig, bands, rows_per_band, id_col, from_array=True)
    sa = shards.select(F.col(id_col).alias("doc_a"), F.col("_shard").alias("sh_a"))
    sb = shards.select(F.col(id_col).alias("doc_b"), F.col("_shard").alias("sh_b"))
    cand = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((F.col("sh_a") == new_shard) | (F.col("sh_b") == new_shard))
        .select("doc_a", "doc_b")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("toks")).filter(F.size("toks") >= n)
    rows = base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("i"),
        F.col("toks"),
    ).select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substr(md5(concat_ws(' ', "
            + ", ".join(f"element_at(toks, i + {j + 1})" for j in range(n))
            + ")), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    arr = rows.groupBy(id_col).agg(F.collect_set("h").alias("shingles"))
    verified = jaccard_verify(cand, arr, threshold, id_col)
    v = verified.join(sa, "doc_a").join(sb, "doc_b")
    # pair convention: doc_a < doc_b. b drops when new (a is base or the
    # lower-id new keeper); a drops only against a base-side b. ONE pass
    # over the verified frame (r13 optimization): the former
    # filter-union-filter shape executed the whole verify subtree twice
    # in a single plan; the two branches are disjoint per row, so a
    # when() projection computes the same drop set in one execution.
    dropped = (
        v.select(
            F.when(F.col("sh_b") == new_shard, F.col("doc_b"))
            .when(F.col("sh_a") == new_shard, F.col("doc_a"))
            .alias(id_col)
        )
        .filter(F.col(id_col).isNotNull())
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        shards.filter(F.col("_shard") == new_shard)
        .select(F.col(id_col))
        .join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_d").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("kept"),
        )
    )


def dup_span_stats(
    df: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring duplication audit (the distributed form of Lee et
    al. 2022's ExactSubstr dedup): fingerprint EVERY n-token sliding
    window (positional, non-distinct — unlike shingles) and mark windows
    whose fingerprint occurs ≥2 times anywhere in the corpus, including
    elsewhere in the same document. Emits per doc: total windows,
    duplicated windows, duplicated fraction — the signal ExactSubstr
    cuts on (a true suffix-array span cut needs an order-preserving
    rewrite; the window census is the shuffle-friendly audit form).

    Plan: window fingerprints are row-local md5s (codegen, no UDF); one
    map-side-combined count per fingerprint; the exploded stream joins
    the counts on the SAME key so the exchange is reused, then one
    groupBy(doc) folds the flags. No all-pairs stage anywhere —
    linear in total tokens at any corpus size.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = (
        # materialize the token array ONCE per row before the window
        # transform — a split inside the lambda would re-tokenize the
        # document at every window position (O(tokens²) per doc)
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size(F.col("_toks")) >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_toks) - {n}), "
                    f"i -> md5(array_join(slice(_toks, i + 1, {n}), ' ')))"
                )
            ).alias("fp"),
        )
    )
    grams = eager_persist(grams)
    counts = grams.groupBy("fp").agg(F.count(F.lit(1)).alias("_total"))
    out = (
        grams.join(counts, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("_total") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .select(
            F.col(id_col),
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )
    return out


def neardup_edit_verified(
    df: DataFrame,
    prefix: int = 200,
    rel_threshold: float = 0.4,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance verification of LSH candidates — the fuzzy-match
    verifier for SHORT-RANGE corruption (typos, OCR noise, small edits)
    that set-based Jaccard under-weights: same two-phase shape as
    ``neardup_verified``, but the exact phase scores Levenshtein on a
    bounded text prefix (edit distance is O(len²) per pair — the prefix
    cap keeps the verify stage constant-cost per candidate).

    Emits every candidate pair with (edit_dist, rel_edit, is_dup) —
    flagging rather than filtering, so the audit sees the full candidate
    set. Candidate pairs broadcast against the prefix table twice; the
    corpus never self-joins.
    """
    sig = minhash_signature_permuted(df, n, num_hashes, text_col, id_col)
    pairs = lsh_candidate_pairs(sig, bands, rows_per_band, id_col, from_array=True)
    texts = df.select(
        F.col(id_col), F.substring(F.col(text_col), 1, int(prefix)).alias("_pfx")
    )
    ta = texts.select(F.col(id_col).alias("doc_a"), F.col("_pfx").alias("_pa"))
    tb = texts.select(F.col(id_col).alias("doc_b"), F.col("_pfx").alias("_pb"))
    ed = F.levenshtein(F.col("_pa"), F.col("_pb"))
    maxlen = F.greatest(F.length("_pa"), F.length("_pb"))
    rel = F.round(ed.cast("double") / maxlen.cast("double"), 6)
    return (
        F.broadcast(pairs)
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ed.cast("long").alias("edit_dist"),
            rel.alias("rel_edit"),
            (rel <= F.lit(float(rel_threshold))).alias("is_dup"),
        )
    )


def novelty_rate(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Incremental n-gram novelty: processing documents in id order, what
    fraction of each document's windows has never been seen before? The
    corpus-growth diagnostic behind dedup research (a healthy crawl adds
    novel text; a saturating one re-crawls itself — novelty trending to
    zero says stop ingesting).

    Semantics: a window is NOVEL for the lowest doc_id containing its
    fingerprint (ties inside one doc: all its occurrences count novel).
    Plan: positional window fingerprints (row-local md5), one keyed
    aggregate finds each fingerprint's first doc, one join back on the
    SAME key reuses the exchange, one per-doc fold — linear in tokens,
    no ordering dependence on partitioning.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size(F.col("_toks")) >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_toks) - {n}), "
                    f"i -> md5(array_join(slice(_toks, i + 1, {n}), ' ')))"
                )
            ).alias("fp"),
        )
    )
    grams = eager_persist(grams)
    first = grams.groupBy("fp").agg(F.min(id_col).alias("_first_doc"))
    return (
        grams.join(first, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("_first_doc") == F.col(id_col), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col(id_col),
            "n_windows",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_windows").cast("double"), 6
            ).alias("novelty"),
        )
    )


def dup_provenance(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    parallelism: int | None = None,
) -> DataFrame:
    """WHERE duplication comes from: the verified near-dup pairs rolled
    up by unordered source pair — within-source counts (a crawler
    re-fetching its own pages) vs cross-source counts (mirrors,
    syndication, the overlap that double-weights content when sources
    are mixed). The provenance view a curation review reads next to
    ``dedup_savings``; ``cross_source_contamination`` sees shared
    VOCABULARY, this sees actual verified duplicate DOCUMENTS.

    Emits (source_x ≤ source_y, n_pairs, within_source) — a
    |sources|²-bounded frame. Scale shape: the pair pipeline is the
    standard banded one; the rollup joins the tiny (id, source) dim onto
    pairs twice and aggregates map-side.
    """
    pairs = neardup_verified(
        df, text_col=text_col, id_col=id_col, parallelism=parallelism
    ).select("doc_a", "doc_b")
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    sa = src.select(F.col(id_col).alias("doc_a"), F.col("_src").alias("_sa"))
    sb = src.select(F.col(id_col).alias("doc_b"), F.col("_src").alias("_sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_x"),
            F.greatest("_sa", "_sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("within_source", F.col("source_x") == F.col("source_y"))
    )


def neardup_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.3, 0.5, 0.7, 0.9),
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """The dedup tuning curve — for every Jaccard threshold level, how
    many verified pairs survive and how many distinct documents they
    touch. THE knob-selection evidence for a dedup run (the analog of
    ``ann_nprobe_pareto`` for the LSH family): too low a threshold
    over-merges topical near-misses, too high leaves boilerplate
    untouched, and this table shows exactly where the pair mass sits.

    One pipeline pass: candidates and exact Jaccard are computed ONCE
    (no per-threshold re-scan); every threshold level is a broadcast
    literal slice of the same scored-pair frame (the nprobe-pareto
    shape). Emits (threshold, n_pairs, n_docs) with exact counts; the
    Jaccard is the identical exact-integer-ratio double in both engines,
    so threshold compares cannot diverge.
    """
    sig = minhash_signature_permuted(df, n, num_hashes, text_col, id_col, parallelism)
    pairs = lsh_candidate_pairs(sig, bands, rows_per_band, id_col, from_array=True)
    arr = hashed_shingle_sets(df, n, text_col, id_col)
    za = arr.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("_ha"))
    zb = arr.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("_hb"))
    scored = (
        pairs.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("_inter", F.size(F.array_intersect("_ha", "_hb")).cast("long"))
        .filter(F.col("_inter") > 0)
        .withColumn(
            "_union",
            (F.size("_ha") + F.size("_hb")).cast("long") - F.col("_inter"),
        )
        .withColumn(
            "_j", F.col("_inter").cast("double") / F.col("_union").cast("double")
        )
        .select("doc_a", "doc_b", "_j")
    )
    lv = F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("threshold")
    s2 = scored.select("doc_a", "doc_b", "_j", lv).filter(
        F.col("_j") >= F.col("threshold")
    )
    # ONE aggregate pass (r13 optimization): the former
    # pair_counts ⋈ union-of-both-sides doc_counts shape executed the
    # whole scored pipeline THREE times in a single plan; exploding each
    # qualifying pair into its two endpoint rows (first endpoint tagged)
    # yields n_pairs = Σ tag and n_docs = count_distinct(endpoint) from
    # one groupBy — same exact counts, one subtree execution, no join.
    sides = s2.select(
        "threshold",
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("_d"), F.lit(1).alias("_isf")),
                F.struct(F.col("doc_b").alias("_d"), F.lit(0).alias("_isf")),
            )
        ).alias("_e"),
    )
    return (
        sides.groupBy("threshold")
        .agg(
            F.sum("_e._isf").cast("long").alias("n_pairs"),
            F.count_distinct("_e._d").cast("long").alias("n_docs"),
        )
        .select(
            (F.round(F.col("threshold"), 6) + F.lit(0.0)).alias("threshold"),
            "n_pairs",
            "n_docs",
        )
    )


def _source_minima_kernel(
    n: int, consts: list[tuple[int, int]], text_col: str, source_col: str
):
    """Arrow-batched per-partition MinHash partial-minima kernel: per
    document, shingle the token stream (set-deduped — min over the set
    equals min over the multiset), md5 each shingle EXACTLY as the JVM
    expression did (hex-prefix 15 chars -> int mod P, utf-8 bytes), then
    apply all ``num_hashes`` permutations as one numpy outer op and fold
    into the per-source running minima. Each partition emits |sources|
    rows of 64 longs — the map-side combine the former 64-column JVM
    aggregate paid explode + per-shingle expression evaluation for."""
    import re

    pat = re.compile(r"\s+", re.ASCII)

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        P = np.uint64(MINHASH_P)
        A = np.array([a for a, _ in consts], dtype=np.uint64)
        C = np.array([c for _, c in consts], dtype=np.uint64)
        mins: dict[str, "np.ndarray"] = {}
        md5 = hashlib.md5
        for pdf in batches:
            # per-BATCH per-source shingle sets: dedup before md5 (the
            # expensive step) while keeping memory bounded by the Arrow
            # batch, not the partition; only the 64 running minima per
            # source persist across batches
            by_src: dict[str, set] = {}
            for s, t in zip(pdf[source_col], pdf[text_col]):
                if t is None:
                    continue
                toks = pat.split(t.strip(" "))
                if len(toks) < n:
                    continue
                by_src.setdefault(s, set()).update(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
            for s, sh in by_src.items():
                b0 = np.fromiter(
                    (
                        int(md5(x.encode("utf-8")).hexdigest()[:15], 16)
                        % MINHASH_P
                        for x in sh
                    ),
                    dtype=np.uint64,
                    count=len(sh),
                )
                # (a*b0+c) % P in uint64: a,b0 < P = 2^31-1 => products
                # < 2^62, no wrap — bit-identical to the JVM longs
                m = ((b0[:, None] * A[None, :] + C[None, :]) % P).min(axis=0)
                prev = mins.get(s)
                mins[s] = m if prev is None else np.minimum(prev, m)
        if mins:
            srcs = sorted(mins)
            M = np.stack([mins[s] for s in srcs]).astype(np.int64)
            out = {source_col: srcs}
            out.update({f"m{j}": M[:, j] for j in range(len(consts))})
            yield pd.DataFrame(out)

    return gen


def source_minhash_sim(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    source_col: str = "source",
    parallelism: int | None = None,
) -> DataFrame:
    """Corpus-level similarity matrix between SOURCES via one MinHash
    signature per source: sig_src[s] = min over the source's distinct
    shingle set of permutation s — so component-match rate estimates the
    shingle-set Jaccard between whole sub-corpora. The sketch-rate
    complement to text.cross_source_contamination's exact 5-gram overlap
    matrix: that one pays a gram-key equi-join; this one needs NO
    pairwise join over data at all — the single (map-side-combined)
    shuffle ships |sources|·num_hashes partial minima per partition and
    collapses to |sources| signatures, then the |sources|² pair
    expansion runs on a KB-scale frame.

    Deterministic (same md5-derived permutations as the doc-level
    minhash pipeline, dedup.py:39), so the estimates sit under the
    exact value gate. Emits (source_a, source_b, sig_matches,
    est_jaccard).

    Vectorized hot path (VERDICT r11 item 3): the per-shingle work —
    string build, md5, 64 permutation mod-muls — runs in one Arrow
    mapInPandas kernel (_source_minima_kernel) that folds each
    partition down to |sources| partial-minimum rows BEFORE anything
    ships; the shuffle then merges |partitions|·|sources| tiny rows
    with a 64-column min aggregate. Arithmetic is bit-identical to the
    former JVM expression path: md5-hex-prefix base hashes mod P and
    (a·b0+c) mod P in uint64 (< 2^62, no wrap), so the same exact
    oracle gates it.
    """
    consts = minhash_perm_consts(num_hashes)
    kernel = _source_minima_kernel(n, consts, text_col, source_col)
    schema = f"{source_col} string, " + ", ".join(
        f"m{s} long" for s in range(num_hashes)
    )
    base = df.select(F.col(source_col), F.col(text_col))
    if parallelism:
        base = base.repartition(parallelism)
    partial = base.mapInPandas(kernel, schema)
    # the signature frame feeds BOTH sides of the pair join — persist the
    # |sources| rows so the corpus scan + shuffle run once, not per side
    sig = eager_persist(
        partial.groupBy(source_col)
        .agg(*[F.min(f"m{s}").alias(f"m{s}") for s in range(num_hashes)])
        .select(
            F.col(source_col),
            F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig"),
        )
    )
    a = sig.select(F.col(source_col).alias("source_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col(source_col).alias("source_b"), F.col("sig").alias("sig_b"))
    matches = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
    return a.join(b, F.col("source_a") < F.col("source_b")).select(
        "source_a",
        "source_b",
        matches.cast("long").alias("sig_matches"),
        F.round(matches.cast("double") / F.lit(float(num_hashes)), 6).alias(
            "est_jaccard"
        ),
    )


def bloom_membership_report(
    df: DataFrame,
    bits_per_key: int = 6,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter membership accounting for incremental dedup: index
    the even-id half of the corpus in a Bloom filter (m = bits_per_key ×
    |index|, ``k`` positions per key via double hashing h1 + j·h2 — the
    Kirsch–Mitzenmacher construction), probe the odd-id half, and report
    the exact true-dup / bloom-hit / false-positive ledger — the sizing
    study that tells you what an approximate pre-filter would save the
    exact anti-join (docs_dedup_incremental) at a given bit budget.

    Bloom semantics done as RELATIONAL algebra so DuckDB can replay it
    bit-for-bit: the filter IS the distinct set of set bit positions; a
    probe hits iff every one of its distinct positions is present
    (per-key position self-collisions therefore count once on both
    sides). At 100 TB you'd materialize the position set as a real
    broadcast bitmap — Spark's own runtime bloom-join filter or
    df.stat.bloomFilter, same tree-aggregated construction — but the
    position-set join keeps the semantics exact and oracle-checkable;
    the shuffle carries (doc, position) pairs, k per doc, never text.

    bits_per_key=6 / k=3 put the fill factor near 40% so the
    false-positive path is actually EXERCISED (~6% FP rate) rather than
    vanishing at test scale the way a production-sized 10-bits-per-key
    filter would.
    """
    # k <= 8 keeps h1 + (k-1)*h2 < 2^63 (h1, h2 < 16^15 ≈ 1.15e18):
    # k=9 would overflow BIGINT under ANSI mode / wrap under non-ANSI,
    # silently diverging from the oracle's exact arithmetic
    if not 1 <= int(k) <= 8:
        raise ValueError(f"k must be in [1, 8] (int64 position arithmetic), got {k}")
    fp = F.md5(F.col(text_col).cast("binary"))
    halves = df.select(
        F.col(id_col).alias("_id"), fp.alias("fp"), (F.col(id_col) % 2).alias("_par")
    )
    idx = halves.filter(F.col("_par") == 0)
    prb = halves.filter(F.col("_par") == 1)
    from ._cache import eager_persist

    idx = eager_persist(idx)
    prb = eager_persist(prb)
    # the eager persist already ran the count — reuse it to fail fast on
    # an empty index half (m = 0 would be a modulo-by-zero downstream)
    if idx.count() == 0:
        raise ValueError("bloom index half is empty — no even ids to index")
    m = idx.agg((F.lit(int(bits_per_key)) * F.count(F.lit(1))).alias("m"))

    def positions(frame: DataFrame) -> DataFrame:
        h1 = F.expr("CAST(conv(substr(md5(concat(fp, ':b1')), 1, 15), 16, 10) AS BIGINT)")
        h2 = F.expr("CAST(conv(substr(md5(concat(fp, ':b2')), 1, 15), 16, 10) AS BIGINT)")
        return (
            frame.crossJoin(F.broadcast(m))
            .select(
                "_id",
                F.explode(
                    F.array(*[((h1 + F.lit(j) * h2) % F.col("m")) for j in range(k)])
                ).alias("pos"),
            )
            .distinct()
        )
    ipos = eager_persist(positions(idx).select("pos").distinct())
    ppos = positions(prb)
    hit_docs = (
        ppos.join(ipos.select("pos", F.lit(1).alias("_in")), "pos", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.col("_in"), F.lit(0))).alias("_matched"),
        )
        .filter(F.col("_n") == F.col("_matched"))
        .select("_id")
    )
    true_dups = prb.join(
        idx.select("fp").distinct(), "fp", "semi"
    ).select("_id")
    counts = (
        idx.agg(F.count(F.lit(1)).cast("long").alias("n_index"))
        .crossJoin(prb.agg(F.count(F.lit(1)).cast("long").alias("n_probe")))
        .crossJoin(m.select(F.col("m").cast("long").alias("m_bits")))
        .crossJoin(ipos.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set")))
        .crossJoin(
            hit_docs.agg(F.count(F.lit(1)).cast("long").alias("n_bloom_hits"))
        )
        .crossJoin(
            true_dups.agg(F.count(F.lit(1)).cast("long").alias("n_true_dups"))
        )
    )
    return counts.select(
        "n_index",
        "n_probe",
        "m_bits",
        F.lit(int(k)).cast("long").alias("k_hashes"),
        "n_bits_set",
        "n_bloom_hits",
        "n_true_dups",
        (F.col("n_bloom_hits") - F.col("n_true_dups")).cast("long").alias(
            "n_false_pos"
        ),
        # NULL when every probe is a true dup (no FP-eligible probes):
        # a bare division would raise under ANSI mode; the oracle's
        # CASE emits the same NULL
        F.when(
            F.col("n_probe") > F.col("n_true_dups"),
            F.round(
                (F.col("n_bloom_hits") - F.col("n_true_dups")).cast("double")
                / (F.col("n_probe") - F.col("n_true_dups")).cast("double"),
                6,
            )
            + F.lit(0.0),
        ).alias("fp_rate"),
    )


# ------------------------------------------------ persisted LSH index

# Layout of the persisted LSH index (io_sinks "index storage"): bands
# partitioned by band_id, shingles unpartitioned.
LSH_FRAMES = {"bands": "band_id", "shingles": None}
_BANDS, _SHINGLES = LSH_FRAMES


def _sig_shingle_frames(
    df: DataFrame,
    n: int,
    num_hashes: int,
    text_col: str,
    id_col: str,
    parallelism: int | None,
) -> tuple[DataFrame, DataFrame, callable]:
    """(sig frame, shingles frame, cleanup) for the index writers/query —
    r14: when ``parallelism`` is set (the bulk/batch call sites), both
    frames come from ONE persisted combined pass
    (minhash_sig_and_shingles): the shard is tokenized and md5-hashed
    once instead of once per frame (ADVICE r13: the shingle leg of every
    batch append serialized on the scan's partitioning AND re-hashed the
    text the signature leg had already hashed). When ``parallelism`` is
    None (the streaming foreachBatch sites), the split lineages are kept:
    a persist barrier per micro-batch costs more than the duplicate hash
    of a tiny batch — the same batch/streaming split the repo's
    ``parallelism`` knob already encodes. ``cleanup`` unpersists (no-op
    for the split form); callers that return a lazy DataFrame consuming
    these frames must NOT call it before execution."""
    if parallelism:
        cs = eager_persist(
            minhash_sig_and_shingles(df, n, num_hashes, text_col, id_col, parallelism)
        )
        return (
            cs.select(F.col(id_col), "sig"),
            cs.select(F.col(id_col), "shingles"),
            lambda: cs.unpersist(),
        )
    return (
        minhash_signature_permuted(df, n, num_hashes, text_col, id_col, parallelism),
        hashed_shingle_sets(df, n, text_col, id_col, parallelism),
        lambda: None,
    )


def lsh_index_write(
    df: DataFrame,
    path: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> None:
    """Persist the MinHash/LSH dedup index of a curated base corpus —
    the 'stored index built when the base was curated' that
    ``neardup_incremental``'s docstring promises (and the dedup twin of
    ``ann.ivf_index_write``). Layout under ``path``:

      - ``bands`` — (doc_id, band_key) PARTITIONED BY band_id: the
        bucket join key, laid out so each band's bucket lookup scans
        only its own slice and index maintenance (re-banding, band
        addition) rewrites bands independently;
      - ``shingles`` — (doc_id, shingles array<bigint>): the exact
        60-bit n-gram hash sets the verification phase intersects, so
        an incremental query never re-reads base TEXT.

    Both frames are row-local functions of the base corpus (signature
    and shingle expressions identical to the in-session operators), so
    querying the index is byte-equal to recomputing — the
    docs_lsh_index_persist entry gates that against
    docs_neardup_incremental's exact oracle. ``lsh_index_append``
    stages a batch's frames with this same writer."""
    from ..io_sinks import run_concurrently

    sig, sh, cleanup = _sig_shingle_frames(
        df, n, num_hashes, text_col, id_col, parallelism
    )
    try:
        banded = band_keys(sig, bands, rows_per_band, id_col)
        # the two frames are independent outputs of the same input — run
        # their write jobs concurrently (guide §2.6) so the second write
        # back-fills the first's task tail instead of paying its own
        # scheduling/commit floor end-to-end. Streaming foreachBatch
        # sites (parallelism=None) keep sequential writes: a driver
        # thread pool per micro-batch costs more than it overlaps
        writes = [
            lambda: (
                banded.repartition("band_id")
                .write.mode("overwrite")
                .partitionBy("band_id")
                .parquet(f"{path}/{_BANDS}")
            ),
            lambda: sh.write.mode("overwrite").parquet(f"{path}/{_SHINGLES}"),
        ]
        if parallelism:
            run_concurrently(*writes)
        else:
            for w in writes:
                w()
    finally:
        cleanup()


def lsh_index_query_incremental(
    spark,
    path: str,
    new_df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Fuzzy-deduplicate a NEW ingest shard against the PERSISTED LSH
    index — the daily-crawl production path: the new shard's signatures
    and band keys compute row-locally, base candidates come from one
    equi-join against the stored (band_id, band_key) buckets, new-vs-new
    candidates from bucket pairs WITHIN the shard, and exact-Jaccard
    verification intersects the new shard's computed shingle sets with
    the index's STORED ones (base text never re-read, base signatures
    never recomputed — cost tracks ingest size, not corpus size).

    Keeper rule identical to ``neardup_incremental``: a new doc drops
    iff it has a verified Jaccard ≥ threshold neighbor that is any base
    doc or a lower-id new doc. Emits (id, kept 0/1) per new-shard doc —
    byte-equal to running neardup_incremental over base ∪ new with the
    same parameters (the shared oracle proves it).

    With ``parallelism`` set (a bulk shard) the answer is computed before
    the call returns, into session scratch space, and the shard frame
    persisted for it is released; without it the frame is lazy."""
    from ..io_sinks import read_with_segments
    from ..scratch import scratch_dir

    # r14: the shard's signatures (consumed by BOTH candidate branches)
    # and its shingle sets (the verify operand) come from one combined
    # pass — persisted on the bulk path, split on the per-micro-batch
    # streaming path (see _sig_shingle_frames)
    sig, new_sh, cleanup = _sig_shingle_frames(
        new_df, n, num_hashes, text_col, id_col, parallelism
    )
    nb = band_keys(sig, bands, rows_per_band, id_col).select(
        F.col(id_col).alias("doc_a"), "band_id", "band_key"
    )
    # segment-aware reads (io_sinks.read_with_segments): committed
    # appended segments fold in; staged (in-flight) ones are invisible
    # — pre- or post-append views only, never torn
    idx = read_with_segments(spark, path, _BANDS).select(
        F.col(id_col).alias("doc_b"), "band_id", "band_key"
    )
    # anti-join the index side against the querying batch's OWN ids: in
    # a clean run base and new are disjoint so this is a no-op, but a
    # foreachBatch RETRY that crashed after lsh_index_append committed
    # has its own bands in the index (the retried append is then a
    # token no-op, but this query runs first) — without this, every
    # retried doc would match ITSELF (Jaccard 1) and same-batch higher
    # ids would masquerade as base neighbors. With it, a retry computes
    # exactly the original decisions (tested:
    # test_lsh_index_retry_sees_itself_safely).
    new_ids = new_df.select(F.col(id_col).alias("doc_b"))
    new_base = (
        nb.join(idx, ["band_id", "band_key"])
        # no broadcast hint: a streaming micro-batch's id set is tiny
        # (AQE broadcasts it), a bulk ingest shard may not be
        .join(new_ids, "doc_b", "left_anti")
        .select("doc_a", "doc_b")
        .distinct()
    )
    new_new = lsh_candidate_pairs(sig, bands, rows_per_band, id_col, from_array=True)
    base_sh = read_with_segments(spark, path, _SHINGLES)
    arr = new_sh.unionByName(base_sh)
    # drops: any verified base neighbor kills the new doc (doc_a = new);
    # within the shard the higher id of a verified pair drops (doc_a <
    # doc_b by construction) — first-copy-wins, as in the in-session op.
    # ONE verify pass over the tagged union of both candidate sets
    # (r13 optimization): verification is row-local, so verify(A ∪ B) =
    # verify(A) ∪ verify(B), and the single pass pays the shingle-array
    # join subtree once instead of twice (measured ~0.8 s at sf0.1).
    cands = new_base.withColumn("_drop_b", F.lit(False)).unionByName(
        new_new.select("doc_a", "doc_b").withColumn("_drop_b", F.lit(True))
    )
    verified = jaccard_verify(cands, arr, threshold, id_col, carry=("_drop_b",))
    dropped = (
        verified.select(
            F.when(F.col("_drop_b"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias(id_col)
        )
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    out = (
        new_df.select(F.col(id_col))
        .join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_d").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("kept"),
        )
    )
    if not parallelism:
        return out  # split lineages: nothing was persisted
    # bulk path: every branch above reads the persisted combined pass.
    # Run the result now into session scratch space and release the
    # persist; the frame handed back reads only those files, so it
    # neither pins the cache nor recomputes the combined pass later
    dst = scratch_dir("lsh_query_")
    try:
        out.write.mode("overwrite").parquet(dst)
    finally:
        cleanup()
    return spark.read.parquet(dst)


def lsh_index_append(
    df: DataFrame,
    path: str,
    token: str,
    commit: bool = True,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> bool:
    """Grow a persisted LSH index with a processed batch's bands and
    shingle sets — the between-crawls maintenance step: once a crawl
    batch has been deduplicated, indexing it makes every LATER batch
    dedup against it exactly like against the original base.

    BOTH frames stage under one hidden dir (written by
    ``lsh_index_write``) and publish in ONE atomic rename
    (io_sinks.append_segment) — a reader racing the append can never
    see a batch's bands without its shingles (a candidate pair whose
    verification set is missing). ``token`` names the batch: one token
    per batch per writer, and re-running a token the index has already
    seen is a no-op that launches no Spark job, so a retried
    foreachBatch never duplicates index rows. ``commit=False`` stages
    without publishing; io_sinks.commit_segment(path, token) completes
    it. Returns True when this call wrote the segment."""
    from ..io_sinks import append_segment

    return append_segment(
        path,
        token,
        tuple(LSH_FRAMES),
        lambda dst: lsh_index_write(
            df, dst, n, num_hashes, bands, rows_per_band, text_col, id_col, parallelism
        ),
        commit,
    )


# The traced benchmark run looks the append up under both names.
lsh_index_append_atomic = lsh_index_append


def lsh_index_compact(
    spark, path: str, fail_between_renames: bool = False
) -> int:
    """Full compaction of a persisted LSH index (io_sinks.compact_index
    over ``LSH_FRAMES``): every append adds one file per band plus one
    shingles file, so a long-lived crawl index accumulates appends×bands
    small files. Rewrites the bands one file per band and size-compacts
    the shingles store, the two rewrites overlapping and the two swaps
    in sequence. Returns the final data-file count; result-invariance
    is proven by the docs_lsh_index_compact entry on the shared oracle.
    ``fail_between_renames`` injects a mid-swap crash at the BANDS swap
    for the recovery entry and tests."""
    from ..io_sinks import compact_index

    return compact_index(spark, path, LSH_FRAMES, fail_between_renames)


def lsh_index_compact_incremental(
    spark, path: str, max_fragments: int = 1
) -> list[str]:
    """Incremental maintenance of a persisted LSH index
    (io_sinks.compact_index_incremental over ``LSH_FRAMES``): fragmented
    ``band_id=`` cells fold their segment copies into the base while
    the shingle segments tier-merge into one merged segment, the two
    overlapping; the BASE shingles frame is never read or rewritten.
    Scale note: every append emits rows for EVERY band, so after any
    append all band cells are fragmented — the per-cell selectivity
    shows on indexes whose appends touch cell subsets (the IVF family);
    here the value is folding segment BANDS in (the hot join side)
    without rewriting the base shingles (the bulk of the bytes).
    Gated by docs_lsh_index_compact_incremental on the family oracle.
    Returns the rewritten band cell dirnames."""
    from ..io_sinks import compact_index_incremental

    return compact_index_incremental(spark, path, LSH_FRAMES, max_fragments)
