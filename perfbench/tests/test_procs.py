"""Process-tree CPU time, and stopping every process a run started."""

import os
import subprocess
import sys
import time

from perfbench import procs, stats


def test_since_counts_cpu_of_children():
    start = stats.clock()
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(5)"])
    try:
        time.sleep(1.0)  # the child has spun and now sleeps, still alive
        wall, cpu = stats.since(start)
    finally:
        child.kill()
        child.wait()
    assert wall >= 1.0
    assert 0.25 <= cpu < wall


def test_stop_all_ends_descendants():
    # a child that ignores end of input and a grandchild it leaves behind
    child = subprocess.Popen(
        [sys.executable, "-c", "import subprocess, sys, time\n"
         "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])\n"
         "time.sleep(60)"],
    )
    deadline = time.monotonic() + 10
    while len(procs.descendants(os.getpid())) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    started = procs.descendants(os.getpid())
    assert child.pid in started and len(started) == 2

    procs.stop_all(grace_s=0.5)

    assert child.poll() is not None
    assert not any(procs._running(pid) for pid in started)
    assert procs.descendants(os.getpid()) == []
