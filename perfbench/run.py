"""Closed-loop benchmark of the engine: one driver process, one client
thread, ``local[nproc]`` with ``nproc`` shuffle partitions.

    python3 perfbench/run.py --workload pipeline_ingest_dedup --seed 1 --seconds 24 --trace 0

Run from the root of a checkout of the engine. The run reads the
checked-in tables in ``perfbench/data/sf0.01`` (the seed permutes the
op order of each pass and picks the catalog slices), builds the session
and makes one untimed warm pass; ``setup_s`` is the time from process
start to the first timed op. It then runs whole passes over the
workload's ops until ``--seconds`` have passed and checks the outputs.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes, probes the layers, prints the per-layer
metrics, and writes the spans and per-op records to
``.perfbench/traces/<workload>-seed<seed>.json``.

Everything else the run writes lives in ``.perfbench/run-<pid>/``
(catalog, Spark local dirs, warehouse, every temp dir), which is
removed at exit. The run fails if any other file of the checkout
changed. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
end-to-end figures kept out of ``BENCHMARK.json`` (``extra``).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout must stay unchanged

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_computing_projects_spark"
STATE = os.path.join(ROOT, ".perfbench")

DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOAD_NAMES = ("mapreduce_ref", "pipeline_ingest_dedup", "catalog_put_get")
PROBE_REPS = 3  # samples per probe; the probe's figure is their median

# (name, unit): the end-to-end metrics of an untraced run ...
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("cpu_s_per_pass", "s"),
    ("peak_rss_mb", "MB"),
]
# ... and the per-layer metrics of a traced run. Every workload reports
# every one: a layer the passes bypass is measured by a probe instead.
OPERATORS = [
    "operators.grep_s", "operators.wordcount_s", "operators.maplejuice_s",
    "operators.token_occurrence_agg_s", "operators.condorcet_s",
    "operators.minhash_lsh_pairs_s", "operators.neardup_clusters_s",
    "operators.knn_join_s",
]
CATALOG_TIMES = [
    "catalog.put_s.parquet", "catalog.put_s.orc", "catalog.put_s.json",
    "catalog.put_partitioned_s", "catalog.get_count_s", "catalog.get_agg_s",
    "catalog.ls_s", "catalog.store_s", "catalog.delete_s",
]
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("session.derived_s", "s"),
    ("queries.build_s", "s"),
    ("queries.action_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.rows", "count"),
    *((name, "s") for name in OPERATORS),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("spark.parallel_eff", "ratio"),
    ("functions.worker_cpu_s", "s"),
    ("functions.workers_peak", "count"),
    *((name, "s") for name in CATALOG_TIMES),
    ("catalog.bytes_written", "bytes"),
    ("catalog.files_written", "count"),
    ("verify.compare_s", "s"),
    ("verify.mismatches", "count"),
    ("trace.overhead_s", "s"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="run whole passes until this many seconds have passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside ``.perfbench``."""
    out = {}
    for dirpath, dirnames, names in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames
                           if d not in (".perfbench", ".git", ".bench_build")]
        for n in names:
            full = os.path.join(dirpath, n)
            st = os.lstat(full)
            out[os.path.relpath(full, root)] = (st.st_size, st.st_mtime_ns)
    return out


def isolate(work: str) -> None:
    """Point every temp and scratch location at ``work``, and put the
    checkout on the driver's and the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY="2g",
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    os.chdir(work)


def since_start() -> float:
    """Seconds since this process started (``/proc/self/stat``)."""
    with open("/proc/self/stat", "rb") as f:
        start = int(f.read().rsplit(b")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start / os.sysconf("SC_CLK_TCK"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    that percentile."""
    s = sorted(xs)
    if len(s) <= 10:
        return (s[-1], 100.0) if s else (0.0, 0.0)
    k = len(s) - 10
    return s[k - 1], 100.0 * k / len(s)


class Run:
    def __init__(self, args, work: str, sampler):
        self.args = args
        self.work = work
        self.sampler = sampler
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.n_ops = 0

    def run_op(self, op, tracer) -> dict:
        from spans import spark_stats

        self.spark.catalog.clearCache()  # measure recompute, never a cache read
        sc = self.spark.sparkContext
        group = f"perfbench-{self.n_ops}"
        self.n_ops += 1
        if tracer.enabled:
            sc.setJobGroup(group, op.name)
        rec = {"op": op.name, "kind": op.kind, "metric": op.metric}
        t0 = time.perf_counter()
        t1 = None
        try:
            with tracer.span("op", op=op.name):
                with tracer.span(op.metric, op=op.name):
                    out = op.call()
                t1 = time.perf_counter()
                if op.action is not None:
                    with tracer.span("action", op=op.name):
                        op.action(out)
        except Exception as e:  # an op that raises is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc(file=sys.stderr)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        rec.update(call_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark"] = spark_stats(sc, group)
        return rec

    def run_pass(self, ops, tracer) -> dict:
        """One pass: wall time, and the tree's CPU from samples taken
        just outside the wall timer."""
        recs, counters = [], {}
        before = self.sampler.sample()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            for op in ops:
                recs.append(self.run_op(op, tracer))
                if op.then is not None and "error" not in recs[-1]:
                    counters.update(op.then())
        wall = time.perf_counter() - t0
        after = self.sampler.sample()
        return {"wall_s": wall, "traced": tracer.enabled, "ops": recs,
                "counters": counters, "cpu_s": after.cpu_s - before.cpu_s,
                "worker_cpu_s": after.worker_cpu_s - before.worker_cpu_s}

    def go(self) -> dict:
        from spans import Tracer
        from workloads import WORKLOADS

        args = self.args
        rng = random.Random(args.seed)
        tracer = Tracer(bool(args.trace))
        untraced = Tracer(False)
        layer: dict = {}
        phases = {"start": since_start()}

        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            from distributed_computing_projects_spark.session import (
                byte_coalesced,
                get_spark,
            )

            self.spark = get_spark(
                app_name="perfbench", cpus=self.cpus,
                shuffle_partitions=self.cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # a fixed heap, touched in full at start: how much
                    # of it the young generation happens to touch would
                    # otherwise move the resident memory figure by 0.7 GB
                    "spark.driver.extraJavaOptions":
                        f"-Xms2g -XX:+AlwaysPreTouch"
                        f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
                        " -XX:-UsePerfData",
                })
        layer["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        workload = WORKLOADS[args.workload](self.spark, DATA, self.work)
        if tracer.enabled:
            t = time.perf_counter()
            with tracer.span("session.derived"):
                byte_coalesced(self.spark)
            layer["session.derived_s"] = time.perf_counter() - t
        # untimed warm passes at the workload's own scale, until the JIT
        # has settled; the first collects the outputs for the checks
        warm = [self.run_pass(workload.pass_ops(rng, warm=i == 0), untraced)
                for i in range(workload.WARM_PASSES)]
        layer["session.warmup_s"] = sum(p["wall_s"] for p in warm)
        setup_s = since_start()
        phases["set-up"] = setup_s - phases.pop("start")

        mark = time.perf_counter()
        passes = []
        end = time.perf_counter() + args.seconds
        # three passes at least, so pass_s is a median of three even when
        # a pass outlasts --seconds; a traced run alternates untraced and
        # traced passes (two of each at least), so the tracing overhead is
        # measured within the run
        while time.perf_counter() < end or len(passes) < (4 if tracer.enabled else 3):
            traced = tracer.enabled and len(passes) % 2 == 1
            passes.append(self.run_pass(workload.pass_ops(rng),
                                        tracer if traced else untraced))
        phases["passes"] = time.perf_counter() - mark
        r = {"layer": layer, "warm": warm, "passes": passes, "tracer": tracer,
             "workload": workload, "phases": phases, "setup_s": setup_s}
        mark = time.perf_counter()
        if tracer.enabled:
            r["probes"] = self.probes(workload, tracer, rng)
        r["checks"] = workload.check(tracer, random.Random(args.seed))
        self.spark.catalog.clearCache()
        phases["probes and checks"] = time.perf_counter() - mark
        r["peak_pss"] = self.sampler.peak_pss
        r["workers_peak"] = self.sampler.peak_workers
        return r

    def timed(self, fn) -> tuple[float, float, object]:
        """(wall s, PySpark worker CPU s, result) of one call."""
        before = self.sampler.sample()
        t = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t
        return wall, self.sampler.sample().worker_cpu_s - before.worker_cpu_s, out

    def probes(self, workload, tracer, rng) -> dict:
        """After the traced passes: each input's reader plus a count
        (sources), every operator on cached inputs (operators), and a
        probe of each layer the passes bypass: ``grep`` for the queries
        layer, one catalog cycle for the catalog layer. Each reader and
        operator is timed ``PROBE_REPS`` times."""
        from workloads import CatalogPutGet, force, operator_probes, query_probe_ops

        def reps(span, fn, **attrs):
            runs = []
            for _ in range(PROBE_REPS):
                with tracer.span(span, **attrs):
                    runs.append(self.timed(fn))
            return runs

        out: dict = {"sources": {}, "operators": {}}
        for name, read in workload.sources():
            runs = reps("sources.scan", lambda: read().count(), input=name)
            out["sources"][name] = {"scan_s": median([w for w, _, _ in runs]),
                                    "rows": runs[0][2]}
        for metric, build in operator_probes(self.spark, DATA):
            runs = reps(metric, lambda: force(build()))
            out["operators"][metric] = {"s": median([w for w, _, _ in runs]),
                                        "worker_cpu_s": median([c for _, c, _ in runs])}
        self.spark.catalog.clearCache()
        if "queries" not in workload.LAYERS:
            out["queries"] = [self.run_op(op, tracer)
                              for op in query_probe_ops(self.spark, DATA, PROBE_REPS)]
        if "catalog" not in workload.LAYERS:
            cycle = CatalogPutGet(self.spark, DATA, self.work)
            out["catalog"] = self.run_pass(cycle.pass_ops(rng), tracer)
        return out

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has ended."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def ok(p: dict) -> list[dict]:
    return [o for o in p["ops"] if "error" not in o]


def end_to_end(r: dict, failed: int, attempted: int) -> tuple[dict, dict, list[str]]:
    """The end-to-end metrics, from the untraced passes only; then the
    figures printed beside them: ``{name: (value, unit, samples)}``."""
    plain = [p for p in r["passes"] if not p["traced"]]
    lat = [o["latency_s"] for p in plain for o in ok(p)]
    m = {
        "setup_s": r["setup_s"],
        "pass_s": median([p["wall_s"] for p in plain]),
        "op_p50_s": median(lat),
        "cpu_s_per_pass": median([p["cpu_s"] for p in plain]),
        "peak_rss_mb": r["peak_pss"] / 1e6,
    }
    tail_s, tail_q = tail(lat)
    extra = {"op_tail_s": (tail_s, "s", len(lat)),
             "error_rate": (failed / attempted, "ratio", attempted)}
    if "catalog" in r["workload"].LAYERS:
        ops = [o for p in plain for o in ok(p)]
        writes = [o["latency_s"] for o in ops if o["op"].startswith("put")]
        reads = [o["latency_s"] for o in ops if o["kind"] == "read"]
        stored = [p["counters"]["stored_bytes_per_input_byte"] for p in plain
                  if "stored_bytes_per_input_byte" in p["counters"]]
        extra.update(write_p50_s=(median(writes), "s", len(writes)),
                     read_p50_s=(median(reads), "s", len(reads)),
                     stored_bytes_per_input_byte=(median(stored), "ratio", len(stored)))
    notes = [
        f"op_tail_s is p{tail_q:.1f} of the op latencies",
        f"pass_s, cpu_s_per_pass: median of {len(plain)} untraced passes: "
        + " ".join(f"{p['wall_s']:.2f}/{p['cpu_s']:.1f}" for p in plain)
        + " (wall s/CPU s)",
        "phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in r["phases"].items()),
    ]
    return m, extra, notes


def per_layer(r: dict, cpus: int) -> dict:
    """Every layer metric: per-pass totals (median over the traced
    passes) where the passes call the layer, the probe's figure where
    they bypass it; ratios; set-up times."""
    layers = r["workload"].LAYERS
    probes = r["probes"]
    traced = [p for p in r["passes"] if p["traced"]]
    plain = [p for p in r["passes"] if not p["traced"]]
    m = dict(r["layer"])

    def per_pass(fn, ps=traced):
        return median([fn(p) for p in ps])

    def total(key, where=lambda o: True, ps=traced):
        return per_pass(lambda p: sum(o[key] for o in ok(p) if where(o)), ps)

    def efficiency(p):
        busy = [o for o in ok(p) if o["spark"]["jobs"]]
        wall = sum(o["latency_s"] for o in busy) * cpus
        return sum(o["spark"]["executor_run_s"] for o in busy) / wall if wall else 0.0

    if "queries" in layers:
        m["queries.build_s"] = total("call_s")
        m["queries.action_s"] = total("action_s")
    else:  # per grep call
        m["queries.build_s"] = median([o["call_s"] for o in probes["queries"]])
        m["queries.action_s"] = median([o["action_s"] for o in probes["queries"]])
    sources = probes["sources"].values()
    m["sources.scan_s"] = sum(s["scan_s"] for s in sources)
    m["sources.rows"] = sum(s["rows"] for s in sources)
    for metric in OPERATORS:
        m[metric] = probes["operators"][metric]["s"]
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = per_pass(lambda p: sum(o["spark"][key] for o in ok(p)))
    m["spark.task_skew"] = per_pass(lambda p: median(
        [o["spark"]["task_skew"] for o in ok(p)
         if o["spark"]["task_skew"] is not None]))
    m["spark.parallel_eff"] = per_pass(efficiency)
    if "functions" in layers:
        m["functions.worker_cpu_s"] = per_pass(lambda p: p["worker_cpu_s"])
    else:  # per maplejuice wordcount
        m["functions.worker_cpu_s"] = probes["operators"]["operators.maplejuice_s"][
            "worker_cpu_s"]
    m["functions.workers_peak"] = r["workers_peak"]
    cycles = traced if "catalog" in layers else [probes["catalog"]]
    for metric in CATALOG_TIMES:
        m[metric] = total("latency_s", lambda o: o["metric"] == metric, cycles)
    for key in ("catalog.bytes_written", "catalog.files_written"):
        m[key] = per_pass(lambda p: p["counters"].get(key, 0), cycles)
    m["verify.compare_s"] = r["tracer"].total("verify.compare")
    m["verify.mismatches"] = sum(1 for c in r["checks"] if c.problems)
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                             - median([p["wall_s"] for p in plain]))
    return m


def write_trace(args, r: dict, layer: dict) -> str:
    path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [s for s in r["tracer"].spans if "end" in s]
    t0 = min((s["start"] for s in spans), default=0.0)
    for s in spans:
        s["start"] -= t0
        s["end"] -= t0
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "layers": layer,
            "passes": r["passes"], "warm_passes": r["warm"],
            "probes": r["probes"], "spans": spans,
            "checks": {c.name: c.problems for c in r["checks"]},
        }, f, indent=1, default=str)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside {HERE}; run it from "
              "the root of a checkout of the engine", file=sys.stderr)
        return 2
    from procs import TreeSampler, reap

    work = os.path.join(STATE, f"run-{os.getpid()}")
    before = snapshot(ROOT)
    isolate(work)
    sampler = TreeSampler()
    run = Run(args, work, sampler)
    try:
        with sampler:
            r = run.go()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        mark = time.perf_counter()
        try:
            run.close()
        finally:
            reap(sampler.seen)
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(STATE):
                os.rmdir(STATE)
    r["phases"]["close"] = time.perf_counter() - mark
    after = snapshot(ROOT)
    changed = sorted(k for k in before.keys() | after.keys()
                     if before.get(k) != after.get(k))

    failed_checks = [c for c in r["checks"] if c.problems]
    for c in failed_checks:
        print(f"perfbench: check {c.name} failed: {c.problems}", file=sys.stderr)
    if changed:
        print(f"perfbench: the run changed files of the checkout: {changed}",
              file=sys.stderr)
    ops = [o for p in r["warm"] + r["passes"] for o in p["ops"]]
    attempted = len(ops) + len(r["checks"])
    failed = sum(1 for o in ops if "error" in o) + len(failed_checks)
    correct = failed == 0 and not changed

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{run.cpus}] passes={len(r['passes'])}")
    e2e, extra, notes = end_to_end(r, failed, attempted)
    for name, unit in END_TO_END:
        print(f"  {name:28s} {e2e[name]:12.4f} {unit}")
    for name, (value, unit, n) in extra.items():
        print(f"  {name:28s} {value:12.4f} {unit} (n={n})")
    for note in notes:
        print(f"  # {note}")
    if args.trace:
        layer = per_layer(r, run.cpus)
        for name, unit in PER_LAYER:
            print(f"  {name:34s} {layer[name]:12.4f} {unit}")
        print(f"  # trace file: {os.path.relpath(write_trace(args, r, layer), ROOT)}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    # the figures kept out of BENCHMARK.json, for steady.py
    print(json.dumps({"extra": {n: {"value": v, "unit": u, "n": k}
                                for n, (v, u, k) in extra.items()}}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
