"""Self-test of the benchmark itself, at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

Checks, for every workload and both ``--trace`` modes, that the result
line has the contract's keys, that every metric BENCHMARK.json names is
printed with its unit, that every workload's own metric names appear in
the report lines, and that the unmodified program passes every check.
Then checks that an endpoint serving one row short is caught as failed
operations, and that the benchmark refuses to run without the package.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402

#: each workload's own end-to-end names, as the report lines print them
SHARED = {"setup_s": "s", "setup_wall_s": "s", "speed_probe_p50_ms": "ms",
          "setup_speed_probe_p50_ms": "ms", "failed_op_ratio": "ratio"}
NAMED = {
    "cache_load": {**SHARED, "load_p50_s": "s", "format_load_p50_s": "s",
                   "load_p50_wall_s": "s", "format_load_p50_wall_s": "s",
                   "load_py_peak_rss_mb": "MB"},
    "stream_enrich": {**SHARED, "batch_p50_s": "s", "reload_batch_p50_s": "s",
                      "batch_p50_wall_s": "s", "reload_batch_p50_wall_s": "s",
                      "enrich_rows_per_s": "1/s", "snapshot_age_p50_s": "s"},
    "operator_mix": {**SHARED, "mix_pass_s": "s", "mix_pass_wall_s": "s"},
}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "4", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, proc.stdout.splitlines()


def expected_metrics(bench: dict, workload: str, trace: int) -> dict[str, str]:
    if workload == "operator_mix" and trace:
        names = [f"spark.{m}" for m in spans.SPARK_METRICS]
        names += list(workloads.MIX_QUERIES.values())
        return {n: workloads.LAYER_UNITS[n] for n in names}
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def check_run(bench: dict, workload: str, trace: int) -> None:
    code, lines = run(workload, trace)
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected_metrics(bench, workload, trace), (workload, trace, got)
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)), v
    report = "\n".join(lines[:-1])
    for name, unit in NAMED[workload].items():
        pattern = rf"^# {workload} {re.escape(name)} = \S+ {re.escape(unit)}$"
        assert re.search(pattern, report, re.M), f"{workload}: no {name} [{unit}] line"
    print(f"ok   {workload} trace={trace}: {result['attempted']} operations")


def check_drop_row(workload: str) -> None:
    code, lines = run(workload, 0, "--drop-row")
    result = json.loads(lines[-1])
    assert code == 0 and result["failed"] >= 1 and result["correct"] is False, result
    print(f"ok   {workload} with one row dropped: {result['failed']} of "
          f"{result['attempted']} operations failed")


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run("cache_load", 0, cwd=bare)
        assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   refuses to run without the package")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for workload in NAMED:
        for trace in (0, 1):
            check_run(bench, workload, trace)
    for workload in ("cache_load", "stream_enrich"):
        check_drop_row(workload)
    check_bare_directory()
    return 0


if __name__ == "__main__":
    sys.exit(main())
