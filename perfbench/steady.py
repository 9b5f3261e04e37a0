"""Steadiness check: run the benchmark once per seed and report, per
end-to-end metric, the median and the spread (the distance between the
first and third quartile as a share of the median).

    python3 perfbench/steady.py --workload mapreduce_ref --seeds 1-10 --out a.json
    python3 perfbench/steady.py --compare a.json b.json

A metric is steady when its spread is below a third of its bound in
``BENCHMARK.json``, and two sets of runs agree when no median of the
second is worse than the first's by more than the bound. ``setup_s`` is
checked like the others. The figures a run prints beside the JSON result
(``extra``: ``op_tail_s``, ``error_rate`` and the catalog-only ones) have
no bound in ``BENCHMARK.json``; they are checked against
``EXTRA_BOUND``. ``--compare`` prints both checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXTRA_BOUND = 0.25  # the largest bound BENCHMARK.json allows


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def collect(workloads, seed_list, seconds, trace) -> dict:
    out: dict = {}
    for w in workloads:
        for s in seed_list:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            extra = json.loads(lines[-2]).get("extra", {}) if len(lines) > 1 else {}
            for name, m in {**res["metrics"], **extra}.items():
                out.setdefault(w, {}).setdefault(name, []).append(m["value"])
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)
    return out


def report(runs: dict, bounds: dict) -> None:
    for w, metrics in runs.items():
        for name, values in metrics.items():
            if len(values) < 2:
                continue
            med, sp = spread(values)
            bound = bounds.get(name, EXTRA_BOUND)
            if med == 0 and max(values) == 0:
                flag = " (0 in every run)"
            else:
                flag = "" if sp <= bound / 3 else (" WIDE" if sp <= bound else " OVER BOUND")
            print(f"{w:24s} {name:28s} n {len(values):2d} median {med:12.4f}"
                  f" spread {sp:7.3f} bound {bound}{flag}")


def compare(a: dict, b: dict, bounds: dict) -> None:
    for w in a:
        for name in a[w]:
            if name not in b.get(w, {}):
                continue
            bound = bounds.get(name, EXTRA_BOUND)
            ma, mb = statistics.median(a[w][name]), statistics.median(b[w][name])
            if ma == mb:
                worse = 0.0
            else:
                worse = (mb - ma) / ma if ma else float("inf")
            flag = "" if worse <= bound else " WORSE THAN BOUND"
            print(f"{w:24s} {name:28s} {ma:12.4f} -> {mb:12.4f} ({worse:+.3f}"
                  f" bound {bound}){flag}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="workload name (repeatable; default: all)")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        for runs in sets:
            report(runs, bounds)
        compare(*sets, bounds)
        return 0
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    runs = collect(workloads, seeds(args.seeds),
                   args.seconds or bench["run_seconds"], args.trace)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    report(runs, bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
