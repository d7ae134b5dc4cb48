"""The three workloads, their checks and their metrics.

Every workload runs one closed-loop caller against the package's public
entry points on ``local[4]``: it starts the next operation only when the
previous one has returned.  Set-up (session start, inputs, endpoint and an
untimed warm-up) is timed as ``setup_s``; then operations run until
``--seconds`` is used up.  Each operation's output is checked outside its
timed region, and a failed check or a raised error counts as a failed
operation.  The end-to-end timings are rescaled to a reference host speed
by a speed probe run before every operation, because the host's speed
drifts by more than any bound.  See README.md for what each metric and
layer means.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import inputs
import spans as tr

#: generic end-to-end metrics of BENCHMARK.json → each workload's own name
E2E_NAMES = {
    "cache_load": {
        "op_p50_s": "load_p50_s",
        "op2_p50_s": "format_load_p50_s",
        "py_peak_rss_mb": "load_py_peak_rss_mb",
    },
    "stream_enrich": {
        "op_p50_s": "batch_p50_s",
        "op2_p50_s": "reload_batch_p50_s",
        "py_peak_rss_mb": "stream_py_peak_rss_mb",
    },
    "operator_mix": {
        "op_p50_s": "mix_pass_s",
        "op2_p50_s": "mix_dedup_similarity_s",
        "py_peak_rss_mb": "mix_py_peak_rss_mb",
    },
}
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op2_p50_s": "s", "py_peak_rss_mb": "MB"}

MIX_QUERIES = {
    "dedup_minhash_incremental": "operators.dedup.minhash_incremental_s",
    "sim_ann_ivf_trained": "operators.similarity.ann_ivf_trained_s",
    "bm25_prf_expansion": "operators.retrieval.bm25_prf_expansion_s",
    "streaming_sessionize": "streaming.session.sessionize_s",
    "training_corpus_build": "operators.pipeline.training_corpus_build_s",
}
#: untimed batches before stream_enrich's window: batch walls settle after ~20
WARM_BATCHES = 24
#: untimed rounds of both routes before cache_load's window
WARM_ROUNDS = 4
#: the queries of the slice that run the dedup and similarity kernels
MIX_DEDUP_SIMILARITY = ("dedup_minhash_incremental", "sim_ann_ivf_trained")

#: per-reload medians taken from the spans under ``check_and_reload``
LOOKUP_SPAN_METRICS = (
    "http_client.fetch_s", "http_client.parse_s", "http_client.body_mb",
    "rows.deserialize_s", "rows.us_per_row", "sources.lookup.relation_self_s",
    "streaming.refresh.reload_s", "streaming.refresh.materialize_self_s",
    "trace.uncovered_s",
)
LAYER_UNITS = {
    "http_client.fetch_s": "s", "http_client.parse_s": "s",
    "http_client.body_mb": "MB", "http_client.attempts": "count",
    "http_client.retries": "count", "http_client.failures": "count",
    "rows.deserialize_s": "s", "rows.us_per_row": "us",
    "sources.lookup.relation_self_s": "s",
    "sources.datasource.scan_s": "s", "sources.datasource.tasks": "count",
    "streaming.refresh.reload_s": "s",
    "streaming.refresh.materialize_self_s": "s",
    "streaming.refresh.check_s": "s", "streaming.refresh.reloads": "count",
    "operators.lookup_join.plan_s": "s", "operators.lookup_join.hit_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.job_busy_s": "s",
    **{name: "s" for name in MIX_QUERIES.values()},
    "trace.uncovered_s": "s", "trace.overhead_s": "s",
}


def run_stamp(root: str, args) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha1()
    pkg = os.path.join(root, "flink_http_full_cache_connector_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {
        "git_sha": sha, "source_sha1": h.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": list(os.getloadavg()),
        "cpu_steal_start_s": cpu_steal_s(),
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "workload": args.workload, "size": args.size,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


#: environment variable that marks every process a run starts
RUN_MARKER = "PERFBENCH_RUN"


def run_processes() -> list[int]:
    """Other live processes carrying this run's marker in their environment."""
    needle = f"{RUN_MARKER}={os.environ[RUN_MARKER]}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    found.append(int(entry))
        except OSError:  # gone, or not ours to read
            continue
    return found


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over this machine's
    CPUs since boot: a noisy neighbour shows up here."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


#: iterations of the speed-probe loop
PROBE_LOOP = 300_000
#: the probe time that defines the reference host speed (on a 2.1 GHz Xeon
#: vCPU the probe took 15–30 ms, depending on what its neighbours were doing)
PROBE_REF_S = 0.020


def speed_probe() -> float:
    """Seconds a fixed pure-Python loop takes now.  It is the benchmark's
    own code and runs between operations: the package can move it only by
    leaving work running after an operation returns."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_LOOP):
        acc += i * i % 7
    return time.perf_counter() - t0


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    traced: bool
    jobs: tuple[int, int] | None = None
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    workload: str
    e2e: dict[str, float]
    layers: dict[str, float]
    extra: dict[str, tuple[float, str]]  # more named figures for the report
    ops: list[Op]
    trace: bool
    probes_ms: list[float]  # every speed probe of the timed window

    @property
    def timed(self) -> list[Op]:
        return [o for o in self.ops if o.kind != "warmup"]

    @property
    def attempted(self) -> int:
        return len(self.timed)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.timed)

    def report_lines(self, setup_s: float) -> list[str]:
        """The run's figures under the workload's own metric names."""
        named = {"setup_s": (setup_s, "s")}
        named.update({E2E_NAMES[self.workload][k]: (v, E2E_UNITS[k]) for k, v in self.e2e.items()})
        named.update(self.extra)
        named["failed_op_ratio"] = (self.failed / max(1, self.attempted), "ratio")
        walls: dict[str, list[float]] = {}
        for o in self.ops:
            walls.setdefault(o.kind, []).append(round(o.wall, 3))
        counts = {k: len(v) for k, v in walls.items()}
        lines = [f"{self.workload} samples " + json.dumps(counts, sort_keys=True),
                 f"{self.workload} walls_s " + json.dumps(walls, sort_keys=True),
                 f"{self.workload} probes_ms " + json.dumps(self.probes_ms)]
        lines += [f"{self.workload} {k} = {v:.6g} {u}" for k, (v, u) in named.items()]
        return lines

    def contract_line(self, setup_s: float) -> dict:
        if self.trace:
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in self.layers.items()}
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
            metrics.update({k: {"value": v, "unit": E2E_UNITS[k]} for k, v in self.e2e.items()})
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


class Context:
    """Session, endpoint, tracer and the operation log of one run."""

    def __init__(self, *, root, work, seed, seconds, trace, tiny, drop_row, t_start):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.trace, self.tiny, self.drop_row = trace, tiny, drop_row
        self.t_start = t_start
        self.setup_s = self.setup_wall_s = 0.0
        self.probes = [speed_probe()]
        self._setup_probes: list[float] = []
        self.tracer = tr.Tracer()
        self.ops: list[Op] = []
        self._endpoint: subprocess.Popen | None = None
        self._deadline = 0.0
        self._last_wall = 0.0

        from flink_http_full_cache_connector_spark.session import build_session

        java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        self.spark = build_session(
            "perfbench", master="local[4]", cpus=4,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t_start

    # -- endpoint -------------------------------------------------------
    def start_endpoint(self, rows: int) -> Callable[[], str]:
        """Spawn the endpoint; the returned call waits for it and gives its
        base URL (so the caller can build its own inputs meanwhile)."""
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "endpoint.py"),
               "--seed", str(self.seed), "--rows", str(rows)]
        if self.drop_row:
            cmd.append("--drop-row")
        self._endpoint = proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

        def base_url() -> str:
            line = proc.stdout.readline()
            if not line.startswith("PORT "):
                raise RuntimeError(f"endpoint did not start: {line!r}")
            return f"http://127.0.0.1:{int(line.split()[1])}"

        return base_url

    def served_log(self, base_url: str) -> dict[int, float]:
        import urllib.request

        with urllib.request.urlopen(base_url + "/log", timeout=30) as resp:
            return {int(g): t for g, t in json.loads(resp.read())}

    def close(self) -> None:
        if self._endpoint is not None:
            self._endpoint.stdin.close()
            try:
                self._endpoint.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self._endpoint.kill()
                self._endpoint.wait()
        self.spark.stop()
        # stop the JVM too, so the run leaves no process behind
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
        # Spark's Python workers outlive the JVM by a moment: wait for every
        # process that inherited this run's marker
        deadline = time.monotonic() + 30
        while left := run_processes():
            if time.monotonic() > deadline:
                for pid in left:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
            time.sleep(0.1)

    # -- timing ---------------------------------------------------------
    def setup_done(self) -> None:
        """End set-up.  ``setup_s`` is its wall at the reference host speed,
        judged by the probes taken at start and before each warm-up."""
        now = time.perf_counter()
        self.setup_wall_s = now - self.t_start
        self._setup_probes, self.probes = self.probes, []
        self.setup_s = self.setup_wall_s * PROBE_REF_S / tr.median(self._setup_probes)
        self._deadline = now + self.seconds

    def more(self, cost: float | None = None) -> bool:
        """Start another unit of work only if it can end inside the window,
        judged by ``cost`` (default: the last operation's wall)."""
        cost = self._last_wall if cost is None else cost
        return time.perf_counter() + cost <= self._deadline

    def op(self, kind: str, fn: Callable[[], object], *, traced: bool = False):
        """Time ``fn()`` as one operation, with a speed probe just before
        it; returns (Op, value or None)."""
        jobs_lo = tr.last_job_id(self.spark) if self.trace else None
        # every operation starts from a collected heap, so a collection an
        # earlier one left due does not land in it
        gc.collect()
        self.probes.append(speed_probe())
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind) if traced else contextlib.nullcontext():
                with self.tracer.installed() if traced else contextlib.nullcontext():
                    value = fn()
            ok = True
        except Exception:  # noqa: BLE001 — a failed operation is counted, the run goes on
            traceback.print_exc()
            value, ok = None, False
        wall = time.perf_counter() - t0
        o = Op(kind, wall, ok, traced)
        if self.trace:
            o.jobs = (jobs_lo, tr.last_job_id(self.spark))
        self.ops.append(o)
        self._last_wall = wall
        return o, value

    def fail(self, o: Op, why: str) -> None:
        o.ok = False
        print(f"perfbench: check failed: {o.kind}: {why}", file=sys.stderr)

    def result(self, workload: str, e2e: dict, *, extra: dict | None = None,
               layers: dict | None = None, spark_kinds: tuple[str, ...] = (),
               overhead_kind: str | None = None, lookup_path: bool = True) -> Result:
        """Assemble the run's result.  In a traced run the per-layer metrics
        are the lookup-path spans (if ``lookup_path``), Spark's counts per
        timed operation of ``spark_kinds``, the tracing overhead on
        ``overhead_kind`` operations, and the workload's own ``layers``."""
        timed = [o for o in self.ops if o.kind != "warmup"]
        # the timings at the reference host speed, judged by the window's
        # probes; the raw medians go to the report
        probe = tr.median(self.probes)
        raw = {f"{E2E_NAMES[workload][k][:-2]}_wall_s": (v, "s") for k, v in e2e.items()}
        e2e = {k: v * PROBE_REF_S / probe for k, v in e2e.items()}
        e2e["py_peak_rss_mb"] = peak_rss_mb()
        extra = {**raw, **(extra or {}), "setup_wall_s": (self.setup_wall_s, "s"),
                 "setup_session_s": (self.session_s, "s"),
                 "setup_warmup_s": (sum(o.wall for o in self.ops if o.kind == "warmup"), "s"),
                 "speed_probe_p50_ms": (probe * 1e3, "ms"),
                 "setup_speed_probe_p50_ms": (tr.median(self._setup_probes) * 1e3, "ms")}
        out: dict[str, float] = {}
        if self.trace:
            if lookup_path:
                out.update(self._lookup_layers())
            unit = [o for o in timed if o.jobs is not None]
            for o, c in zip(unit, tr.spark_counts(self.spark, [o.jobs for o in unit])):
                o.info["spark"] = c
            counted = [o.info["spark"] for o in unit if o.kind in spark_kinds]
            for name in tr.SPARK_METRICS:
                out["spark." + name] = tr.median(c[name] for c in counted)
            if lookup_path:
                out["sources.datasource.tasks"] = tr.median(
                    o.info["spark"]["tasks"] for o in unit if o.kind == "format_load")
            if overhead_kind is not None:
                traced = [o.wall for o in timed if o.kind == overhead_kind and o.traced]
                plain = [o.wall for o in timed if o.kind == overhead_kind and not o.traced]
                out["trace.overhead_s"] = tr.median(traced) - tr.median(plain)
            out.update(layers or {})
        return Result(workload, e2e, out, extra, self.ops, self.trace,
                      [round(p * 1e3, 2) for p in self.probes])

    def _lookup_layers(self) -> dict[str, float]:
        """Median per reload of each lookup-path layer's own time, from the
        spans under every ``check_and_reload`` that reloaded."""
        t = self.tracer
        reloads = [s for s in t.named("streaming.refresh.check_and_reload") if s.info]
        checks = [s for s in t.named("streaming.refresh.check_and_reload") if not s.info]
        cols: dict[str, list[float]] = {}
        for c in reloads:
            lk = t.child(c, "sources.lookup.create_lookup_df")
            fr = lk and t.child(lk, "sources.lookup.fetch_rows")
            parts = fr and [t.child(fr, n) for n in
                            ("http_client.fetch", "http_client.parse", "rows.deserialize")]
            if not parts or None in parts:
                continue
            f, p, d = parts
            for name, v in (
                ("http_client.fetch_s", f.dur),
                ("http_client.parse_s", p.dur),
                ("http_client.body_mb", f.info / 1e6),
                ("rows.deserialize_s", d.dur),
                ("rows.us_per_row", d.dur / max(1, d.info) * 1e6),
                ("sources.lookup.relation_self_s", t.self_time(lk)),
                ("streaming.refresh.reload_s", c.dur),
                ("streaming.refresh.materialize_self_s", t.self_time(c)),
                ("trace.uncovered_s", t.self_time(fr)),
            ):
                cols.setdefault(name, []).append(v)
        out = {name: tr.median(cols.get(name, ())) for name in LOOKUP_SPAN_METRICS}
        out["streaming.refresh.check_s"] = tr.median(c.dur for c in checks)
        out["operators.lookup_join.plan_s"] = tr.median(
            s.dur for s in t.named("operators.lookup_join.lookup_join"))
        return out


# --- cache_load ---------------------------------------------------------------

def _digest_cols():
    from pyspark.sql import functions as F

    h = F.xxhash64("id", "name", "price", "qty", "updated_at")
    return [
        F.count("*").alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.shiftright(h, 24)).alias("s"),
        F.min("gen").alias("gen_lo"),
        F.max("gen").alias("gen_hi"),
    ]


def expected_digest(spark, dim: inputs.Dimension) -> tuple:
    """Order-insensitive digest of the expected snapshot (``gen`` aside),
    computed by Spark over a frame built straight from the typed values."""
    import pandas as pd
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(inputs.DIM_DDL.replace(", gen BIGINT", ""))
    pdf = pd.DataFrame(dim.columns, dtype=object)
    r = spark.createDataFrame(pdf, schema).agg(*_digest_cols()[:3]).first()
    return (r["n"], r["x"], r["s"])


def check_snapshot(ctx: Context, o: Op, got, expected: tuple, after_gen: int) -> int:
    """Row count and digest against the generator's; one generation, newer
    than ``after_gen``.  Returns the snapshot's generation."""
    if got is None:
        return after_gen
    if (got["n"], got["x"], got["s"]) != expected:
        ctx.fail(o, f"digest {(got['n'], got['x'], got['s'])} != expected {expected}")
    if got["gen_lo"] != got["gen_hi"] or (got["gen_lo"] or 0) <= after_gen:
        ctx.fail(o, f"generations {got['gen_lo']}..{got['gen_hi']} after {after_gen}")
    return got["gen_hi"] or after_gen


def _cache_counters(before: dict, after: dict) -> dict[str, float]:
    """The cache's own HTTP and refresh counters over the timed window."""
    return {
        "http_client.attempts": after["http_attempts"] - before["http_attempts"],
        "http_client.retries": after["http_retries"] - before["http_retries"],
        "http_client.failures": after["http_failures"] - before["http_failures"],
        "streaming.refresh.reloads": after["refresh_count"] - before["refresh_count"],
    }


def cache_load(ctx: Context) -> Result:
    """Forced full reloads of one 20k-row dimension by two routes in turn:
    ``RefreshingLookupCache.check_and_reload(force=True)`` (driver route)
    and ``spark.read.format("http-lookup-full-cache")``, materialized by
    the digest aggregate (format route)."""
    from flink_http_full_cache_connector_spark.options import FACTORY_IDENTIFIER
    from flink_http_full_cache_connector_spark.sources.datasource import register
    from flink_http_full_cache_connector_spark.streaming.refresh import RefreshingLookupCache
    from pyspark.sql.types import StructType

    spark = ctx.spark
    rows = 2_000 if ctx.tiny else 20_000
    base_url = ctx.start_endpoint(rows)
    dim = inputs.dimension(ctx.seed, rows, encode=False)
    base = base_url()
    opts = {"url": base + "/data", "xpath": inputs.DIM_POINTER}
    register(spark)
    expected = expected_digest(spark, dim)
    cache = RefreshingLookupCache(spark, opts, StructType.fromDDL(inputs.DIM_DDL), eager=False)

    def driver_load():
        cache.check_and_reload(force=True)

    def format_load():
        df = spark.read.format(FACTORY_IDENTIFIER).schema(inputs.DIM_DDL).options(**opts).load()
        return df.agg(*_digest_cols()).first()

    def one_round(load_kind: str, format_kind: str, traced: bool) -> None:
        nonlocal driver_gen, format_gen
        o, _ = ctx.op(load_kind, driver_load, traced=traced)
        if o.ok:
            got = cache.current().agg(*_digest_cols()).first()
            driver_gen = check_snapshot(ctx, o, got, expected, driver_gen)
        o, got = ctx.op(format_kind, format_load, traced=traced)
        if o.ok:
            format_gen = check_snapshot(ctx, o, got, expected, format_gen)

    driver_gen = format_gen = 0
    for _ in range(WARM_ROUNDS):
        one_round("warmup", "warmup", False)
    ctx.setup_done()
    before = cache.metrics()
    n = 0
    while n == 0 or ctx.more(ctx.ops[-1].wall + ctx.ops[-2].wall):
        one_round("load", "format_load", ctx.trace and n % 2 == 1)
        n += 1
    after = cache.metrics()

    ops = [o for o in ctx.ops if o.kind != "warmup"]
    loads = [o.wall for o in ops if o.kind == "load"]
    formats = [o.wall for o in ops if o.kind == "format_load"]
    e2e = {"op_p50_s": tr.median(loads), "op2_p50_s": tr.median(formats)}
    # per round: the dimension rows both routes loaded, over the round's walls
    extra = {"load_rows_per_s": (
        tr.median(2 * rows / (a + b) for a, b in zip(loads, formats)), "1/s")}
    layers = {
        **_cache_counters(before, after),
        "sources.datasource.scan_s": tr.median(formats),
        "operators.lookup_join.hit_ratio": 0.0,  # no join on this workload
    }
    return ctx.result("cache_load", e2e, extra=extra, layers=layers,
                      spark_kinds=("load",), overhead_kind="load")


# --- stream_enrich ------------------------------------------------------------

def stream_enrich(ctx: Context) -> Result:
    """Microbatches of seeded probe keys through ``enrich_stream``'s batch
    function against a 20k-row dimension refreshed every 2 s (FIXED_DELAY),
    reloading inline in whichever batch finds it due."""
    from flink_http_full_cache_connector_spark.streaming.refresh import (
        RefreshingLookupCache,
        enrich_stream,
    )
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    spark = ctx.spark
    dim_rows, probe_rows = (1_000, 4_000) if ctx.tiny else (20_000, 80_000)
    base_url = ctx.start_endpoint(dim_rows)
    dim = inputs.dimension(ctx.seed, dim_rows, encode=False)
    base = base_url()
    dim_ids = np.sort(dim.ids)
    opts = {"url": base + "/data", "xpath": inputs.DIM_POINTER,
            "cache.refresh-interval": "PT2S"}
    cache = RefreshingLookupCache(spark, opts, StructType.fromDDL(inputs.DIM_DDL))
    outputs: dict[int, object] = {}

    def sink(df, epoch_id: int) -> None:
        outputs[epoch_id] = df.agg(
            F.count("*").alias("n"),
            F.count("updated_at").alias("hits"),
            F.min("gen").alias("gen_lo"),
            F.max("gen").alias("gen_hi"),
        ).first()

    def probe_batch(epoch: int):
        # a driver-local batch, as a memory source would hand over: the plan
        # is the same every epoch, so Spark compiles it once, not per batch
        keys = inputs.probe_keys(epoch, probe_rows, dim.key_space)
        return keys, spark.createDataFrame(
            pd.DataFrame({"k": keys, "seq": np.arange(probe_rows, dtype=np.int64)}))

    first = probe_batch(0)[1]
    plain = enrich_stream(first, cache, on=[("k", "id")], how="left", sink=sink)
    traced_process = None
    if ctx.trace:
        with ctx.tracer.installed():  # binds the traced lookup_join into the closure
            traced_process = enrich_stream(
                first, cache, on=[("k", "id")], how="left", sink=sink)
    hits_total = 0

    def one_batch(epoch: int, warm: bool) -> None:
        nonlocal hits_total
        keys, df = probe_batch(epoch)
        want_hits = int(np.isin(keys, dim_ids, assume_unique=False).sum())
        traced = ctx.trace and not warm and epoch % 2 == 1
        process = traced_process if traced else plain
        reloads = cache.stats.fetch_count
        o, _ = ctx.op("warmup" if warm else "batch", lambda: process(df, epoch), traced=traced)
        o.info["end"] = time.time()
        if cache.stats.fetch_count > reloads and not warm:
            o.kind = "reload_batch"
        got = outputs.pop(epoch, None)
        if not o.ok:
            return
        gen = cache.stats.fetch_count
        o.info["gen"] = gen
        if got is None or got["n"] != probe_rows or got["hits"] != want_hits:
            ctx.fail(o, f"batch {epoch}: {got} != {probe_rows} rows, {want_hits} hits")
        elif not (got["gen_lo"] == got["gen_hi"] == gen):
            ctx.fail(o, f"batch {epoch}: generations {got['gen_lo']}..{got['gen_hi']} != {gen}")
        hits_total += got["hits"] if got is not None else 0

    for epoch in range(WARM_BATCHES):  # warm-up, with one reload in the middle
        if epoch == WARM_BATCHES // 2:
            cache.check_and_reload(force=True)
        one_batch(epoch, warm=True)
    hits_total = 0
    ctx.setup_done()
    before = cache.metrics()
    while True:
        epoch += 1
        one_batch(epoch, warm=False)
        if not ctx.more():
            break
    after = cache.metrics()

    served = ctx.served_log(base)
    ops = [o for o in ctx.ops if o.kind != "warmup"]
    batches = [o.wall for o in ops if o.kind == "batch"]
    reload_batches = [o.wall for o in ops if o.kind == "reload_batch"]
    ages = [o.info["end"] - served[o.info["gen"]] for o in ops if "gen" in o.info]
    e2e = {"op_p50_s": tr.median(batches), "op2_p50_s": tr.median(reload_batches)}
    rates = refresh_cycle_rates(ops, probe_rows) or [
        probe_rows * len(ops) / sum(o.wall for o in ops)]
    extra = {"enrich_rows_per_s": (tr.median(rates), "1/s"),
             "snapshot_age_p50_s": (tr.median(ages), "s")}
    layers = {
        **_cache_counters(before, after),
        "sources.datasource.scan_s": 0.0,  # no format-route scan on this workload
        "operators.lookup_join.hit_ratio": hits_total / (probe_rows * len(ops)),
    }
    return ctx.result("stream_enrich", e2e, extra=extra, layers=layers,
                      spark_kinds=("batch", "reload_batch"), overhead_kind="batch")


def refresh_cycle_rates(ops: list[Op], probe_rows: int) -> list[float]:
    """Probe rows per second of batch wall over each complete FIXED_DELAY
    cycle: a reload batch and the batches after it, up to the next reload."""
    starts = [i for i, o in enumerate(ops) if o.kind == "reload_batch"]
    return [probe_rows * (b - a) / sum(o.wall for o in ops[a:b])
            for a, b in zip(starts, starts[1:])]


# --- operator_mix -------------------------------------------------------------

def _canon_hash(pdf) -> str:
    """Order- and dtype-insensitive value hash of a result frame: columns
    sorted by name, rows sorted, cells rendered as canonical text."""
    import datetime as dt
    import decimal

    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
            return "NULL"
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, (float, np.floating, decimal.Decimal)):
            return repr(float(v))
        if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
            return str(pd.Timestamp(v).as_unit("us").value)
        if isinstance(v, dt.date):
            return v.isoformat()
        return str(v)

    h = hashlib.md5(str(len(pdf)).encode())
    for row in pdf.itertuples(index=False, name=None):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def operator_mix(ctx: Context) -> Result:
    """Warm passes over a fixed slice of registered queries on generated
    sf0.01-sized tables; no lookup-path code runs here."""
    import duckdb
    from flink_http_full_cache_connector_spark.plans.registry import all_queries

    spark = ctx.spark
    data = os.path.join(ctx.work, "mix")
    rows = ({"documents": 100, "embeddings": 200, "events": 2_000} if ctx.tiny
            else inputs.MIX_ROWS)
    inputs.write_mix_tables(ctx.seed, data, rows)
    queries = all_queries()

    def one_pass(warm: bool) -> float:
        total = 0.0
        for name in MIX_QUERIES:
            o, pdf = ctx.op("warmup" if warm else "query",
                            lambda: queries[name].spark(spark, data).toPandas())
            o.info["query"] = name
            if pdf is not None:
                o.info["hash"] = _canon_hash(pdf)
            total += o.wall
        return total

    one_pass(warm=True)
    ctx.setup_done()
    passes = [one_pass(warm=False)]
    while ctx.more(passes[-1]):
        passes.append(one_pass(warm=False))

    # the registry's DuckDB oracles, outside every timed region
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb')}'")
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = {name: _canon_hash(con.execute(queries[name].oracle).df()) for name in MIX_QUERIES}
    con.close()
    ops = [o for o in ctx.ops if o.kind != "warmup"]
    for o in ops:
        if o.ok and o.info["hash"] != oracle[o.info["query"]]:
            ctx.fail(o, f"{o.info['query']}: result differs from the DuckDB oracle")

    def walls(names) -> list[float]:
        return [o.wall for o in ops if o.info["query"] in names]

    e2e = {
        "op_p50_s": tr.median(passes),
        "op2_p50_s": tr.median(
            sum(w) for w in zip(*(walls([n]) for n in MIX_DEDUP_SIMILARITY))),
    }
    extra = {"mix_queries_per_s": (tr.median(len(MIX_QUERIES) / p for p in passes), "1/s")}
    layers = {metric: tr.median(walls([name])) for name, metric in MIX_QUERIES.items()}
    return ctx.result("operator_mix", e2e, extra=extra, layers=layers,
                      spark_kinds=("query",), lookup_path=False)


WORKLOADS = {"cache_load": cache_load, "stream_enrich": stream_enrich,
             "operator_mix": operator_mix}
