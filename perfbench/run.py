"""Benchmark entry point.

    python3 perfbench/run.py --workload validate_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It starts a local[4]
Spark session on the checkout's own ``polars_genson_spark`` package, runs
one workload as a closed loop for ``--seconds``, checks every op, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it is a report with the sample counts, failure ratio, leak count and the
host-noise sample. Spans and per-op Spark counters of traced runs go to
``.perfbench/traces/``. Scratch data lives under ``.perfbench/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "polars_genson_spark")):
        print(f"polars_genson_spark not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    harness.prepare_environment(ROOT, run_dir)
    noise = harness.host_noise()
    spark = harness.start_spark(run_dir)
    try:
        report = harness.run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            workloads.FULL, os.path.join(run_dir, "data"),
        )
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = report.pop("detail")
    detail["host_noise"] = noise
    if args.trace:
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        out = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       **report, **detail}, f)
        detail["trace_file"] = os.path.relpath(out, ROOT)
    summary = {k: v for k, v in detail.items()
               if k not in ("spans", "spark_per_op")}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **summary}))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
