import os
import subprocess
import sys
import time

from proc import descendants, end_processes, jit_cpu_s, jit_delta, peak_rss_mb, tree_cpu_s

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"


def test_tree_cpu_counts_a_running_child():
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", _BURN + "time.sleep(30)"])
    try:
        # the child has burnt its CPU once it sits in sleep
        for _ in range(100):
            if tree_cpu_s(os.getpid()) - before >= 0.45:
                break
            time.sleep(0.05)
        assert tree_cpu_s(os.getpid()) - before >= 0.45
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_keeps_a_reaped_child():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", _BURN], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.45


def test_peak_rss_is_positive():
    assert peak_rss_mb(os.getpid()) > 1.0


def test_jit_delta_ignores_ended_threads():
    before = {1: 5.0, 2: 3.0}
    after = {1: 6.5, 3: 0.25}  # thread 2 ended, thread 3 started
    assert jit_delta(before, after) == 1.75


def test_jit_cpu_reads_this_process():
    # no JIT compiler threads in a Python process
    assert jit_cpu_s(os.getpid()) == {}


def test_descendants_finds_a_grandchild_and_end_processes_waits_for_it():
    # a child that starts a grandchild and exits, as the JVM leaves the
    # Python workers behind
    child = subprocess.Popen(
        [sys.executable, "-c", "import subprocess, sys, time\n"
         "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(0.5)'])\n"
         "time.sleep(30)"]
    )
    try:
        for _ in range(200):
            procs = descendants(os.getpid())
            if len(procs) == 2:
                break
            time.sleep(0.05)
        assert child.pid in procs and len(procs) == 2
        grandchild = next(p for p in procs if p != child.pid)
        child.kill()
        child.wait()
        # the grandchild ends on its own within the grace time
        assert end_processes(procs, grace_s=10) == []
        assert grandchild not in descendants(1)
    finally:
        child.kill()
        child.wait()


def test_end_processes_signals_what_does_not_end():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    procs = descendants(os.getpid())
    assert child.pid in procs
    assert end_processes(procs, grace_s=0.2) == [child.pid]
    assert child.poll() is not None
