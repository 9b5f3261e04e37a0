"""Process-tree sampler against synthetic child processes.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procs  # noqa: E402
import run  # noqa: E402

MB = 1_000_000

# touch 200 MB, burn 0.5 s of CPU, then wait for stdin to close
BUSY_CHILD = """
import sys, time
buf = bytearray(200 * 1024 * 1024)
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.5:
    pass
print("ready", flush=True)
sys.stdin.read()
"""

# a stand-in for the PySpark daemon: its argv names pyspark.daemon, and
# it forks one worker that inherits that argv
FAKE_DAEMON = """
import os, sys, time
if os.fork() == 0:
    sys.stdin.read()
    os._exit(0)
print("ready", flush=True)
sys.stdin.read()
os.wait()
"""


def _start(code: str, *argv: str) -> subprocess.Popen:
    child = subprocess.Popen([sys.executable, "-c", code, *argv],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    assert child.stdout.readline() == b"ready\n"
    return child


def _stop(child: subprocess.Popen) -> None:
    child.stdin.close()
    child.wait(timeout=10)
    assert child.poll() is not None


def test_child_cpu_and_memory_count_toward_the_tree():
    before = procs.sample(os.getpid())
    child = _start(BUSY_CHILD)
    try:
        s = procs.sample(os.getpid())
        c = s.procs[child.pid]
        assert c.ppid == os.getpid()
        assert c.cpu_s >= 0.4
        assert c.pss >= 200 * MB
        assert s.pss >= before.pss + 190 * MB
        # a sample without PSS skips the page-table walk
        assert procs.sample(os.getpid(), pss=False).pss == 0
    finally:
        _stop(child)
    # once reaped, the child's CPU time moves into our cutime: the tree
    # total keeps it
    after = procs.sample(os.getpid())
    assert child.pid not in after.procs
    assert after.cpu_s >= before.cpu_s + 0.4


def test_pyspark_workers_are_forks_of_the_daemon():
    child = _start(FAKE_DAEMON, "-m", "pyspark.daemon")
    try:
        s = procs.sample(os.getpid())
        daemon = s.procs[child.pid]
        forks = [p for p in s.procs.values() if p.ppid == child.pid]
        assert daemon.python_worker and len(forks) == 1 and forks[0].python_worker
        assert s.workers == 1
    finally:
        _stop(child)


def test_sampler_keeps_the_peak_and_reaps_what_it_saw():
    sampler = procs.TreeSampler(interval=0.02, pss_interval=0.02)
    with sampler:
        child = _start(BUSY_CHILD)
        deadline = time.monotonic() + 5
        while child.pid not in sampler.seen and time.monotonic() < deadline:
            time.sleep(0.02)
    assert sampler.peak_pss >= 200 * MB
    try:
        assert procs.reap(sampler.seen, timeout=5) == [child.pid]
    finally:
        child.wait(timeout=10)
    assert child.returncode != 0  # ended by the signal, not by stdin


def test_tail_leaves_ten_samples_above():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = run.tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_setup_clock_starts_with_the_process():
    assert 0 < run.since_start() < 600
