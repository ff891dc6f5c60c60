"""Fixed-delta compaction slope (VERDICT r12 item 4).

The round-12 ×2 slope point doubled the DELTA with the corpus (the
delta is a fixed corpus fraction there), so e≈1.1 read as
linear-in-delta only by argument. This experiment separates the two
axes on identical machinery:

- corpus ×2 with the delta HELD CONSTANT → the incremental pass should
  track the hot cells (IVF: the touched cells are ~2× bigger, so the
  pass grows with CELL size but stays a small fraction of the full
  pass; LSH shingle tier-merge: strictly flat — it reads only segment
  bytes, never the base);
- delta ×2 on the FIXED corpus → the incremental pass should grow
  ~linearly in the delta (more victims / more segment bytes), while
  the full pass stays corpus-bound (flat).

Usage: python scripts/compaction_slope.py [runs_per_point]
Prints a markdown table (paste into BASELINE.md).
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from gmall_flink_20_spark import io_sinks
from gmall_flink_20_spark.io import load_table
from gmall_flink_20_spark.operators import ann, dedup, sampling
from gmall_flink_20_spark.session import get_spark

sys.path.insert(0, "/root/repo/scripts")
from scale_slope import build_doubled  # noqa: E402

SF = "/root/testdata/sf0.1"


def timed(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return best


def ivf_state(spark, sf_dir: str, delta_n: int, tag: str) -> str:
    """Fresh IVF index on the full corpus at sf_dir plus ONE committed
    segment of delta_n (id-shifted) vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix=f"cslope_ivf_{tag}_") + "/index"
    ann.ivf_index_write(emb, path, nlist=16, train_iters=3)
    delta = (
        emb.orderBy("vec_id")
        .limit(delta_n)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label")
    )
    ann.ivf_index_append(delta, path, "d0")
    return path


def lsh_state(spark, base_dir: str, delta_dirs: list[str], tag: str) -> str:
    """Fresh LSH index on base_dir's shards (2,3) plus one committed
    segment per delta dir (each dir's shard-1 docs, id-shifted per
    segment so deltas stay distinct)."""
    docs = load_table(spark, base_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    base = docs.filter(shard.isin(2, 3))
    path = tempfile.mkdtemp(prefix=f"cslope_lsh_{tag}_") + "/index"
    dedup.lsh_index_write(base, path)
    for i, ddir in enumerate(delta_dirs):
        ddocs = load_table(spark, ddir, "documents")
        dshard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
        d = ddocs.filter(dshard == 1).select(
            (F.col("doc_id") + (i + 1) * 10_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        dedup.lsh_index_append(d, path, f"d{i}")
    return path


def main() -> None:
    spark = get_spark()
    dbl = tempfile.mkdtemp(prefix="sf_double_")
    print("building doubled corpus at", dbl, file=sys.stderr)
    build_doubled(spark, SF, dbl)

    rows = []
    # ---- IVF: incremental pass (compact_cells_incremental) vs full
    for tag, corpus, dn in (
        ("C corpus, 64-vec delta", SF, 64),
        ("2C corpus, SAME 64-vec delta", dbl, 64),
        ("C corpus, 128-vec delta", SF, 128),
    ):
        p_inc = ivf_state(spark, corpus, dn, "i")
        t0 = time.monotonic()
        victims = ann.ivf_index_compact_incremental(spark, p_inc, max_fragments=1)
        t_inc = time.monotonic() - t0
        p_full = ivf_state(spark, corpus, dn, "f")
        t_full = timed(lambda: ann.ivf_index_compact(spark, p_full), 1)
        rows.append(
            ("IVF", tag, t_full, t_inc, f"{len(victims)}/16 cells")
        )
        shutil.rmtree(p_inc, ignore_errors=True)
        shutil.rmtree(p_full, ignore_errors=True)

    # ---- LSH shingles: tier-merge (merge_segment_frames) vs full
    for tag, base, deltas in (
        ("C base, 2 shard-1 segments", SF, [SF, SF]),
        ("2C base, SAME 2 segments", dbl, [SF, SF]),
        ("C base, 4 shard-1 segments", SF, [SF, SF, SF, SF]),
    ):
        p = lsh_state(spark, base, deltas, "m")
        with io_sinks.maintenance_lease(p, "slope"):
            t_merge = timed(
                lambda: io_sinks.merge_segment_frames(spark, p, "shingles"), 1
            )
        p2 = lsh_state(spark, base, deltas, "f")
        t_full = timed(lambda: dedup.lsh_index_compact(spark, p2), 1)
        rows.append(("LSH", tag, t_full, t_merge, f"{len(deltas)} segs"))
        shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(p2, ignore_errors=True)

    print("| family | state | full pass | incremental/merge pass | scope |")
    print("|---|---|---|---|---|")
    for fam, tag, tf, ti, scope in rows:
        print(f"| {fam} | {tag} | {tf:.2f} s | {ti:.2f} s | {scope} |")
    shutil.rmtree(dbl, ignore_errors=True)


if __name__ == "__main__":
    main()
