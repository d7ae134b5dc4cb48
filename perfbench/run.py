"""Lookup-path benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload cache_load --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  Workloads: ``cache_load``,
``stream_enrich``, ``operator_mix`` (see README.md beside this file).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones.  The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
lines before it, each starting with ``#``, carry the run stamp and the
workload's own metric names.  Everything the run writes goes under
``.bench_build/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_http_full_cache_connector_spark"


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cache_load", "stream_enrich", "operator_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs, for the benchmark's self-test")
    ap.add_argument("--drop-row", action="store_true",
                    help="endpoint fault for the self-test: serve one row short")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", f"perfbench-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the package must import in Spark's Python workers too, and every
    # temporary file Spark, the JVM or the queries make stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM takes no Spark conf: keep its perf data off /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads

        os.environ[workloads.RUN_MARKER] = f"{os.getpid()}-{time.time_ns()}"

        stamp = workloads.run_stamp(ROOT, args)
        ctx = workloads.Context(
            root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), tiny=args.size == "tiny",
            drop_row=args.drop_row, t_start=t_start,
        )
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            ctx.close()
        stamp["loadavg_end"] = list(os.getloadavg())
        stamp["cpu_steal_s"] = workloads.cpu_steal_s() - stamp.pop("cpu_steal_start_s")
        print("# stamp " + json.dumps(stamp, sort_keys=True))
        for line in result.report_lines(ctx.setup_s):
            print("# " + line)
        print(json.dumps(result.contract_line(ctx.setup_s), sort_keys=True))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
