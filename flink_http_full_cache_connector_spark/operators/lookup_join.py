"""Lookup (temporal) join: probe stream/batch ⋈ cached dimension snapshot.

Reference query shapes B1/B2 (``HttpLookupConnectorTest.scala:56-68,127-132``,
``README.md:57-64``): ``JOIN dim FOR SYSTEM_TIME AS OF s.proc_time ON s.k =
d.k`` — INNER drops probe misses, LEFT OUTER keeps them with NULL dimension
columns.  The join key is always single-column equality in the reference;
we accept multi-key equality as a strict superset.

Spark-first physical profile: the dimension side is a small full-cache
snapshot, so we **broadcast** it — the per-record hash lookup of Flink's
full-cache join operator IS a broadcast hash join.  The probe side never
shuffles, which is exactly the property that survives a 100 TB probe on a
1000-executor cluster (no exchange on the big side; dimension shipped once
per executor).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lookup_join(
    probe: DataFrame,
    cache: DataFrame,
    on: str | Column | Sequence[str] | list[tuple[str, str]],
    how: str = "left",
) -> DataFrame:
    """Join a probe DataFrame against the cached dimension snapshot.

    ``on`` accepts a column name (same name on both sides), a sequence of
    names, ``[(probe_col, cache_col), ...]`` pairs for the reference's
    ``ON o.user_id = u.id`` shape (differing names) — join-key columns from
    the cache side are dropped in that case, matching the lookup-join output
    where the select-list picks qualified columns — or a raw boolean
    ``Column`` condition (the ``df.join(other, cond)`` shape Spark users
    reach for first; passed through unchanged).

    ``how``: ``"inner"`` (B1) or ``"left"`` (B2).  The dimension side is
    always broadcast: the reference's memory contract is that the whole
    dimension fits in memory next to the probe.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"lookup_join supports inner/left, got {how!r}")

    dim = F.broadcast(cache)

    if isinstance(on, str):
        return probe.join(dim, on=on, how=how)
    # a Column is truthy-hostile (PySpark raises CANNOT_CONVERT_COLUMN_INTO_BOOL
    # on `if col`), so dispatch on it before any sequence inspection
    if isinstance(on, Column):
        return probe.join(dim, on=on, how=how)
    if on and isinstance(on[0], tuple):
        cond: Column | None = None
        for probe_col, cache_col in on:  # type: ignore[misc]
            clause = probe[probe_col] == cache[cache_col]
            cond = clause if cond is None else (cond & clause)
        joined = probe.join(dim, on=cond, how=how)
        # The probe key column carries the value; the cache-side key is
        # redundant (and NULL on LEFT misses) — drop it, matching the
        # lookup-join select-lists which always project the probe key.
        for _, cache_col in on:  # type: ignore[misc]
            joined = joined.drop(cache[cache_col])
        return joined
    return probe.join(dim, on=list(on), how=how)  # type: ignore[arg-type]


_HIT_MARKER = "__lookup_hit__"


def observed_lookup_join(
    probe: DataFrame,
    cache: DataFrame,
    on: str | Column | Sequence[str] | list[tuple[str, str]],
    how: str = "left",
    *,
    observation,
) -> DataFrame:
    """:func:`lookup_join` + cache hit-rate metrics via ``df.observe``.

    The reference README documents a "Cache Hit Rate: Percentage of
    successful cache lookups" metric it never registers
    (``README.md:199-208``); Spark's observed-metrics channel delivers
    it for free: ``lookup_total`` (probe rows) and ``lookup_hits``
    (probe rows that matched the cache) are aggregated JVM-side during
    the join's own pass — zero extra scans, zero Python.

    ``observation`` is a ``pyspark.sql.Observation`` (batch: read
    ``observation.get`` after an action) or a string name (streaming:
    surfaces in every ``StreamingQueryProgress.observedMetrics``).

    Both metrics count PROBE rows (lookup requests), not join output
    rows: a cache with duplicate join keys fans one probe row out to
    several matches, and counting output rows would inflate the hit
    rate.  Observed metrics forbid DISTINCT aggregates, so dedup is
    done structurally: exactly ONE cache row per join key carries
    marker=1 (``row_number`` on the metadata-sized cache side — never
    on the probe), duplicates carry 0, and a LEFT miss surfaces as the
    single NULL-marker row — so ``sum(marker==1)`` counts hitting probe
    rows once each and ``sum(marker==1 or marker is null)`` counts
    every probe row once.  For a raw ``Column`` condition the cache key
    is not derivable; there the marker is constant 1 and the metrics
    degrade to output-row counts (exact whenever the condition matches
    at most one cache row per probe row).

    ``lookup_total`` is only exact for ``how="left"``: an INNER join
    drops missed probe rows from the output entirely, so nothing can
    count them and the derived hit rate is trivially 100%.  A
    non-``left`` ``how`` therefore emits a ``UserWarning`` — the
    metrics still flow, but ``lookup_total`` then means "probe rows
    that produced output", not "lookup requests".
    """
    if how != "left":
        import warnings

        warnings.warn(
            "observed_lookup_join: lookup_total is exact only for "
            f"how='left' — with how={how!r} missed probe rows produce no "
            "output row, so lookup_total==lookup_hits and the derived hit "
            "rate is always 100%",
            UserWarning,
            stacklevel=2,
        )
    if isinstance(on, str):
        key_cols: list[str] | None = [on]
    elif isinstance(on, Column):
        key_cols = None
    elif on and isinstance(on[0], tuple):
        key_cols = [c for _, c in on]  # type: ignore[misc]
    else:
        key_cols = list(on)  # type: ignore[arg-type]
    if key_cols is not None:
        from pyspark.sql import Window

        # orderBy the keys themselves: which duplicate gets the marker is
        # irrelevant (exactly one per key either way), and key columns —
        # unlike monotonically_increasing_id() — stay legal when the joined
        # plan is a stream (Spark rejects nondeterministic expressions
        # anywhere in a streaming plan, even on the batch cache side)
        w = Window.partitionBy(*key_cols).orderBy(*key_cols)
        marked = cache.withColumn(
            _HIT_MARKER, (F.row_number().over(w) == 1).cast("int")
        )
    else:
        marked = cache.withColumn(_HIT_MARKER, F.lit(1))
    joined = lookup_join(probe, marked, on, how)
    hit = F.when(F.col(_HIT_MARKER) == 1, 1).otherwise(0)
    probe_row = F.when(
        (F.col(_HIT_MARKER) == 1) | F.col(_HIT_MARKER).isNull(), 1
    ).otherwise(0)
    observed = joined.observe(
        observation,
        F.coalesce(F.sum(probe_row), F.lit(0)).alias("lookup_total"),
        F.coalesce(F.sum(hit), F.lit(0)).alias("lookup_hits"),
    )
    return observed.drop(_HIT_MARKER)


def with_proc_time(df: DataFrame, col_name: str = "proc_time") -> DataFrame:
    """Computed column ``proc_time AS PROCTIME()`` (B5).

    In Spark, processing time at evaluation ≙ ``current_timestamp()``
    (per-microbatch wall clock under Structured Streaming).
    """
    return df.withColumn(col_name, F.current_timestamp())
