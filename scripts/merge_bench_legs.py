"""Merge bench legs into one best-of frame.

The per-round ``BENCH_BESTOF_r{N}.json`` files it wrote for r11 and r12
are no longer written: perfbench (BENCHMARK.json) is the
change-over-change baseline. The script stays for ad-hoc multi-leg
comparisons.

Each Spark leg is a bench.py run (BENCH_DETAIL.json snapshotted to a
leg file); each oracle leg a scripts/pair_bench.py run
(BENCH_ORACLE_DETAIL.json snapshotted likewise). This script folds any
number of either into OUT.json with the same shape the round-11 frame
established:

  { "spark_best":     {query: min sec over Spark legs},
    "oracle_best":    {query: min sec over oracle legs},
    "streaming_best": {replay: min sec over Spark legs' streaming
                        sections},
    "leg_samples":    {replay: total timed legs, for honesty about
                        budget cuts} }

Usage: python scripts/merge_bench_legs.py OUT.json spark:LEG.json ...
       oracle:LEG.json ...
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    out_path = sys.argv[1]
    spark_best: dict[str, float] = {}
    oracle_best: dict[str, float] = {}
    streaming_best: dict[str, float] = {}
    leg_samples: dict[str, int] = {}
    for arg in sys.argv[2:]:
        kind, _, path = arg.partition(":")
        with open(path) as f:
            leg = json.load(f)
        if kind == "spark":
            for q, t in leg.get("queries", {}).items():
                if q not in spark_best or t < spark_best[q]:
                    spark_best[q] = t
            for q, t in leg.get("streaming_queries", {}).items():
                if q not in streaming_best or t < streaming_best[q]:
                    streaming_best[q] = t
            for q, n in leg.get("streaming_leg_counts", {}).items():
                leg_samples[q] = leg_samples.get(q, 0) + int(n)
        elif kind == "oracle":
            for q, t in leg.get("queries", {}).items():
                if q not in oracle_best or t < oracle_best[q]:
                    oracle_best[q] = t
        else:
            raise SystemExit(f"unknown leg kind: {kind}")
    shared = sorted(set(spark_best) & set(oracle_best))
    summary = {
        "n_shared": len(shared),
        "spark_total": round(sum(spark_best[q] for q in shared), 3),
        "oracle_total": round(sum(oracle_best[q] for q in shared), 3),
    }
    # no shared queries (e.g. only spark legs passed): ratio is
    # undefined, not a crash after the merge work is done (ADVICE r12)
    summary["ratio"] = (
        round(summary["spark_total"] / summary["oracle_total"], 3)
        if shared and summary["oracle_total"] > 0
        else None
    )
    out = {
        "spark_best": spark_best,
        "oracle_best": oracle_best,
        "streaming_best": streaming_best,
        "leg_samples": leg_samples,
        "summary": summary,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
