"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workloads events_batch replay_index --seeds 1 2 3 4 5

The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``. Per-run results are appended as
JSON lines to ``.perfbench/spread.jsonl``; ``--baseline FILE`` also writes
each metric's median, quartiles and run count per workload to FILE.
After each run it checks that no process the run started is left
running, and fails if one is.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

from stats import median, quartile_spread

ROOT = Path(__file__).resolve().parent.parent


def parents() -> dict[int, int]:
    """pid -> parent pid of every process that has not ended."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
            except OSError:
                continue
            if state != "Z":
                out[int(d)] = int(ppid)
    return out


def leftovers(before: set[int]) -> list[str]:
    """Processes started since ``before`` was taken that no process of
    then owns any more: what a run left running after it exited."""
    parent = parents()
    out = []
    for pid in set(parent) - before:
        p = parent[pid]
        while p not in before and p > 1:
            p = parent.get(p, 1)
        if p <= 1:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue
            out.append(f"{pid}: {cmd[:200]}")
    return out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--baseline", type=Path)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = ROOT / ".perfbench" / "spread.jsonl"
    out.parent.mkdir(exist_ok=True)
    ok = True
    summary: dict[str, dict] = {}
    for w in a.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in a.seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"]
            before = set(parents())
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                return 1
            left = leftovers(before)
            if left:
                print(f"{w} seed {seed} left processes running:", *left, sep="\n  ", file=sys.stderr)
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with open(out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1], **res}) + "\n")
            ok &= res["correct"] and res["failed"] == 0
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']}", flush=True)
        print(f"{w}: run wall median {median(walls):.1f}s, max {max(walls):.1f}s")
        for k, vs in values.items():
            s = quartile_spread(vs) if len(vs) > 1 else 0.0
            b = bounds.get(k)
            flag = "" if b is None or s < b / 3 else "  <-- above a third of the bound"
            print(f"  {k:20s} median {median(vs):14.4f}  spread {s:.4f}  bound {b}{flag}")
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            summary.setdefault(w, {})[k] = {"median": median(vs), "q1": q1, "q3": q3, "runs": len(vs)}
    if a.baseline:
        a.baseline.write_text(json.dumps({"seeds": a.seeds, "run_seconds": a.seconds, "workloads": summary}, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
