"""What the benchmark reads from ``/proc``: CPU time, peak memory and the
processes below the driver, which it ends and waits for before it exits."""

from __future__ import annotations

import os
import signal
import time

__all__ = ["tree_cpu_s", "jit_cpu_s", "jit_delta", "peak_rss_mb", "descendants", "end_processes"]

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root`` and
    every process below it: the driver, its JVM and the Python workers.
    Time the hypervisor gives to other guests is not counted."""
    ticks, parent = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            pid = int(d)
            parent[pid] = int(fields[1])
            ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jit_cpu_s(pid: int) -> dict[int, float]:
    """CPU seconds of each JIT compiler thread of the JVM ``pid``, by
    thread id. The JVM starts and ends compiler threads as the queue of
    methods to compile grows and drains; a thread that ended is gone
    from the map while its time stays in the process's, so compare two
    readings with ``jit_delta``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
            out[int(tid)] = sum(int(x) for x in raw.rsplit(")", 1)[1].split()[11:13]) / _TICK
    return out


def jit_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """Compiler CPU between two ``jit_cpu_s`` readings: threads alive at
    both count their growth, new threads all of theirs. A thread that
    ended in between counts nothing, as its time since ``before`` cannot
    be read any more."""
    return sum(c - before.get(tid, 0.0) for tid, c in after.items())


def _stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name, from
    the state on; None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``. The start
    time tells a process from a later one that reuses its pid."""
    parent, start = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat(int(d))
            if fields is not None and fields[0] != "Z":
                parent[int(d)] = int(fields[1])
                start[int(d)] = fields[19]
    out = {}
    for pid in start:
        p = parent[pid]
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root and pid != root:
            out[pid] = start[pid]
    return out


def _alive(pid: int, start: str) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[19] == start and fields[0] != "Z"


def end_processes(procs: dict[int, str], grace_s: float = 20.0) -> list[int]:
    """Wait until every process of ``procs`` (pid -> start time, as from
    ``descendants``) has ended. Those still running after ``grace_s`` get
    SIGTERM, and SIGKILL ``grace_s`` later. Children of this process are
    reaped. Returns the pids that had to be signalled."""
    signalled = []
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid, start in procs.items():
                if _alive(pid, start):
                    signalled.append(pid)
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            for pid in procs:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:  # not a child of this process
                    pass
            if not any(_alive(pid, start) for pid, start in procs.items()):
                return sorted(set(signalled))
            time.sleep(0.05)
    raise RuntimeError(f"processes still running after SIGKILL: {sorted(p for p, s in procs.items() if _alive(p, s))}")
