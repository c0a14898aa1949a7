#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the benchmark's steadiness
check: runs every workload once per seed and reports, per metric, the
median and the distance between the first and third quartile as a share
of the median, beside the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--workload NAME ...]

A metric is steady when its spread stays below a third of its bound
(setup_s is exempt from the spread rule). Results go to standard output
as one line per workload and metric, then one JSON object.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                                str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: incorrect or failed ops: {res}", file=sys.stderr)
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
        report[w] = {}
        for m, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / statistics.median(vs)
            steady = m == "setup_s" or spread < bounds[m] / 3
            report[w][m] = {"median": statistics.median(vs), "spread": round(spread, 4),
                            "bound": bounds[m], "steady": steady, "n": len(vs)}
            print(f"{w:16s} {m:18s} median {statistics.median(vs):12.4f}  spread {spread:.4f}"
                  f"  bound/3 {bounds[m] / 3:.4f}  {'ok' if steady else 'UNSTEADY'}")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
