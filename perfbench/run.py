"""Benchmark of the connector's Run path and the analytics registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see BENCHMARK.json) from the root of a checkout and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0``, the per-layer metrics of a traced run when ``--trace 1``.
The line before it carries run details (sample counts, the tail percentile,
whether the state roots were warm). A traced run also writes its spans to
``.perfbench/spans-<workload>-<seed>.jsonl``.

End-to-end metrics, per workload:

* ``setup_s``: median of several set-ups (session start, table preload or
  state-root ensure, warm-up records).
* ``ops_per_s``: ``ingest``, burst records acked per second;
  ``query_registry``, queries per second, from each query's median time
  over the timed passes.
* ``latency_ms``: ``ingest``, median ack latency of the closed-loop trickle;
  ``query_registry``, the audit set's median time per query.
* ``peak_rss_mb``: peak resident memory of this process plus the JVM.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import this directory as the ``perfbench`` package

WORKLOADS = ("query_registry", "ingest")
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.001")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "conduit_connector_s3_iceberg_spark")):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    from perfbench import gen, harness

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    harness.prepare_environment(ROOT, work)
    from perfbench import layers
    from perfbench.ingest import IngestRun
    from perfbench.queries import RegistryRun

    h = harness.Harness(ROOT, work, traced=bool(args.trace))
    try:
        if h.tracer is not None:
            layers.install(h.tracer)
        try:
            if args.workload == "query_registry":
                run = RegistryRun(h, DATA_DIR, args.seconds)
            else:
                run = IngestRun(h, args.seed, args.seconds)
            result = run.run()
        finally:
            if h.tracer is not None:
                h.tracer.uninstall()
            h.shutdown()
        e2e = {
            "setup_s": gen.median(h.setup_times),
            "ops_per_s": result["ops_per_s"],
            "latency_ms": result["latency_ms"],
            "peak_rss_mb": h.peak_rss_mb,
        }
        if args.trace:
            values = layers.per_layer(h, run, args.workload, e2e)
            units = {k: u for k, (u, _) in layers.layer_names().items()}
            h.tracer.dump(os.path.join(ROOT, ".perfbench",
                                       f"spans-{args.workload}-{args.seed}.jsonl"),
                          h.t0_epoch, h.t0_perf)
        else:
            values, units = e2e, layers.E2E
    finally:
        h.cleanup()
    info = {"workload": args.workload, "seed": args.seed, "cpus": harness.cpus(),
            "setup_runs_s": h.setup_times, "rss_mb": h.rss_mb,
            "notes": h.notes, **result["details"]}
    correct = (run.failed == 0
               and all(math.isfinite(v) for v in values.values()))
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
