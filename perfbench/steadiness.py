"""Steadiness check: run every workload on several seeds, twice over, and
report each end-to-end metric's quartile spread (as a share of its median)
per set and the change of median between the sets.

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --out perfbench/BASELINE.json
    python3 perfbench/steadiness.py --seeds 1-3 --sets 1 --trace 1 \
        --against perfbench/BASELINE.json --out perfbench/BASELINE_traced.json

The output keeps the raw per-run values, so a later run of the same code
can be compared against it. A traced pass given ``--against`` also records
the tracing overhead: each traced run's end-to-end metric (``traced.*``)
minus the untraced median, both as medians over the seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import this directory as the ``perfbench`` package

from perfbench.harness import SPARK_THREADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return {"seed": seed, "wall_s": time.perf_counter() - t0,
            "info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--against", help="untraced report, for the tracing overhead")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True).stdout.strip() or None
    report = {"program_sha": sha, "cpus": len(os.sched_getaffinity(0)),
              "spark_threads": SPARK_THREADS,
              "run_seconds": bench["run_seconds"], "trace": args.trace,
              "workloads": {}}
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for seed in range(lo, hi + 1):
                r = run_once(w, seed, bench["run_seconds"], args.trace)
                print(w, seed, f"{r['wall_s']:.1f}s", r["result"]["correct"],
                      {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()
                       if not args.trace}, file=sys.stderr, flush=True)
                runs.append(r)
            values = {}
            for r in runs:
                for k, v in r["result"]["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            sets.append({"runs": runs, "median": {k: statistics.median(v) for k, v in values.items()},
                         "spread": {k: spread(v) for k, v in values.items()}
                         if not args.trace else {}})
        entry = {"sets": sets}
        if len(sets) == 2 and not args.trace:
            better = {m["name"]: m["better"] for m in bench["end_to_end"]}
            entry["second_vs_first"] = {
                k: (sets[1]["median"][k] - sets[0]["median"][k]) / sets[0]["median"][k]
                * (1 if better[k] == "lower" else -1)
                for k in sets[0]["median"]}
        if args.trace and args.against:
            with open(args.against) as fh:
                untraced = json.load(fh)["workloads"][w]["sets"][0]["median"]
            entry["tracing_overhead"] = {
                k: sets[0]["median"][f"traced.{k}"] - v for k, v in untraced.items()
                if f"traced.{k}" in sets[0]["median"]}
        report["workloads"][w] = entry
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
