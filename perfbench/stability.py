"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py [--runs 10] [--first-seed 1]
                                   [--workload NAME ...] [--out FILE]
                                   [--against EARLIER_OUT]

Runs ``run.py`` once per seed and workload, one run at a time, and prints
for every end-to-end metric its median and the distance between the
first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound in BENCHMARK.json. The
raw values go to ``--out`` (default ``.perfbench_out/stability.json``).

The exit code is non-zero when a run fails, when a spread exceeds its
bound, or, with ``--against``, when a median is worse than the earlier
set's by more than its bound. ``setup_s`` is held only to the last rule:
it is one cold start per run (Spark launch plus warm-up), which cannot be
repeated inside a run to take a median, so its spread is printed but
not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "stability.json"))
    ap.add_argument("--against", help="an earlier --out file to compare medians with")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower_better = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)
    report: dict = {}
    ok = True
    for w in args.workload or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.time() - t)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: rc={proc.returncode}\n{proc.stdout[-2000:]}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(last)
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s "
                  + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        rows = {}
        for m, v in values.items():
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            rows[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds[m], "values": v}
            over = m != "setup_s" and spread > bounds[m]
            line = (f"  {w:10s} {m:18s} median={med:10.4g} spread={spread:6.3f} "
                    f"bound={bounds[m]:.2f}{'  OVER' if over else ''}")
            before = earlier.get(w, {}).get("metrics", {}).get(m)
            if before:
                shift = med / before["median"] - 1
                worse = shift if lower_better[m] else -shift
                line += f" vs earlier {shift:+.3f}{'  WORSE' if worse > bounds[m] else ''}"
                over = over or worse > bounds[m]
            print(line)
            ok = ok and not over
        report[w] = {"metrics": rows, "run_wall_s": walls}
        print(f"  {w:10s} run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
