"""Partitioning helpers for compute-heavy operators.

``widen`` fixes the small-file pathology: a table that arrives as fewer
input partitions than the cluster has cores (single parquet file, single
row group) would otherwise run its whole map-side fan-out (explode,
hashing, nested-loop scoring) on one thread.  At real scale the scan is
already wide — the input has thousands of splits — so ``widen`` is a no-op
there (guarded by the partition count, never an unconditional shuffle of
the full corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.`` names are not data (``_temporary``,
    ``_SUCCESS``, ``.crc``), except ``_k=v`` partition directories."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a driver parquet table from its FOOTER metadata —
    no Spark job (r11 verdict #6: the partition-sizing hints were paying a
    count-star job each on paths already fighting job-count constants).
    Returns None when the layout isn't a plain local file/dir of parquet
    parts (callers fall back to ``df.count()``); parquet footers store the
    row count exactly, so any consumer deriving SIZES from it (cell counts,
    partition hints) gets the identical value either way."""
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return int(pq.ParquetFile(path).metadata.num_rows)
        if os.path.isdir(path):
            total = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not _hidden(d)]
                for f in files:
                    if f.endswith(".parquet") and not _hidden(f):
                        total += int(
                            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                        )
            return total
    except Exception:
        return None
    return None


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to cluster parallelism — only when the
    plan currently has fewer partitions (no-op on already-wide scans)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def scoped_cached_plan_aqe(spark):
    """Context manager: let AQE re-plan (coalesce) CACHED relations for the
    duration of an iterative trainer whose actions run inside the scope.

    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is off by
    default, so every persisted intermediate pins its pre-AQE shuffle
    partition count — an iterative trainer (BPE) then pays cores-many tasks
    per pass over a KB-sized cached vocab table.  With the flag on, the
    cached exchange coalesces to data-appropriate partitions (still wide at
    real scale — the advisory size governs, not the core count).

    Scoped, NOT a session default: the r11 A/B measured the session-wide
    flag a reproducible LOSS for the minhash family (dedup_minhash_capped
    +1.0s, dedup_minhash_incremental +3.2s at sf0.1 — their persisted
    map-side relations gain nothing and the AQE-wrapped cached plans add
    re-planning overhead to every reference) against wins only for the
    trainers that materialize caches inside their own loop (bpe_merges
    -2.4s).  Only effective where the ACTIONS run inside the scope —
    lazily-returned query plans execute after restore and see the default.
    """
    import contextlib

    @contextlib.contextmanager
    def _scope():
        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        prev = spark.conf.get(key, "false")
        spark.conf.set(key, "true")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return _scope()


# --- phase timing hooks (round-10 verdict #6) ------------------------------
#
# Build-dominated queries (persisted-index twins, streaming ANN lookup)
# record their build/serve boundary here so scale artifacts carry the
# split as first-class JSON fields instead of prose in SCALE.md.  The
# recorder is deliberately dumb: a module dict the query writes and the
# bench drains after each timed run — no clocks inside the engine path,
# no behavior change when nothing reads it.

_PHASES: dict[str, float] = {}


def record_phase(name: str, seconds: float) -> None:
    """Record one named phase wall (e.g. ``build_s``) for the currently
    running query.  bench.py drains the dict after each run and attaches
    it to that query's artifact row; ``serve_s`` is derived as
    ``total - build_s`` when only the build is recorded (the serve side
    of a batch twin is the lazily-executed remainder)."""
    _PHASES[name] = round(float(seconds), 3)


def drain_phases() -> dict[str, float]:
    """Return-and-clear the recorded phases (bench-side hook)."""
    out = dict(_PHASES)
    _PHASES.clear()
    return out
