"""Run-to-run spread of the end-to-end metrics, and agreement between
repeated sets of runs.

    python3 perfbench/spread.py --workloads extract,curate,ingest --seeds 1-10 --sets 2

Runs the benchmark untraced once per (set, seed, workload), interleaving
the workloads within each seed so that a drift in the machine's speed
reaches every workload alike. Prints one JSON line per run (with its
wall time), then per set, workload and end-to-end metric the median and
the inter-quartile range as a share of the median
(``statistics.quantiles(values, n=4)``),
and, from the second set on, how much worse each median reads than the
first set's, next to the metric's bound in BENCHMARK.json.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True, help="comma-separated")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workloads.split(",")
    # (set, workload, metric) -> values
    values: dict[tuple[int, str, str], list[float]] = {}
    for k in range(args.sets):
        for seed in seeds(args.seeds):
            for w in workloads:
                t0 = time.perf_counter()
                out = subprocess.run(
                    [*bench["command"], "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True, check=True,
                ).stdout.strip().splitlines()
                res = json.loads(out[-1])
                vals = {m: v["value"] for m, v in res["metrics"].items()}
                print(json.dumps({"set": k, "seed": seed, "workload": w, **vals,
                                  "wall_s": time.perf_counter() - t0,
                                  "correct": res["correct"], "failed": res["failed"],
                                  "attempted": res["attempted"]}), flush=True)
                for m, v in vals.items():
                    values.setdefault((k, w, m), []).append(v)
    for w in workloads:
        for m, spec in metrics.items():
            first = None
            for k in range(args.sets):
                q1, med, q3 = statistics.quantiles(values[(k, w, m)], n=4)
                first = med if first is None else first
                worse = (med - first) / first
                if spec["better"] == "higher":
                    worse = -worse
                print(f"set {k} {w:8s} {m:12s} median {med:12.4f}  "
                      f"iqr/median {(q3 - q1) / med:6.3f}  "
                      f"worse than set 0 {worse:+6.3f}  bound {spec['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
