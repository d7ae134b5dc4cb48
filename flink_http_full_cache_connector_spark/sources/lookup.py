"""HTTP full-cache lookup table → static DataFrame.

The reference materializes the entire HTTP JSON payload as a bounded
one-split scan buffered in join-operator memory
(``HttpInputFormatProvider.scala:50,80-81,148``) and serves it to a
``FOR SYSTEM_TIME AS OF`` lookup join.  The Spark-native equivalent is a
small **static DataFrame** fetched on the driver and broadcast to the join —
same "whole dimension table in memory next to the probe" physical profile,
but letting Catalyst/AQE pick broadcast-hash-join.

Scale contract (100 TB design note): the *probe* side is arbitrarily large
and fully partition-parallel; the *dimension* side is by definition a
lookup-table payload (one HTTP document) and must fit in executor memory —
identical to the reference's contract (README.md:210-217 memory sizing
warning).  Nothing here collects probe data to the driver.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from dataclasses import field as dataclass_field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from flink_http_full_cache_connector_spark.http_client import (
    RequestMetrics,
    fetch_with_retry,
    parse_payload,
)
from flink_http_full_cache_connector_spark.options import HttpLookupOptions, validate_options
from flink_http_full_cache_connector_spark.rows import deserialize_nodes


@dataclass
class FetchStats:
    """Cache observability — the metric families the reference README
    documents but never registers (``README.md:199-208``): refresh
    durations, row counts, and (via ``http``) request/retry/failure
    counts and response times."""

    fetch_count: int = 0
    last_fetch_duration_s: float = 0.0
    total_fetch_duration_s: float = 0.0
    last_row_count: int = 0
    http: RequestMetrics = dataclass_field(default_factory=RequestMetrics)

    def as_dict(self) -> dict[str, float]:
        """Flat metric map, reference-README naming."""
        return {
            "refresh_count": self.fetch_count,
            "last_refresh_duration_s": self.last_fetch_duration_s,
            "total_refresh_duration_s": self.total_fetch_duration_s,
            "cached_row_count": self.last_row_count,
            **self.http.as_dict(),
        }


def fetch_rows(
    opts: HttpLookupOptions,
    schema: StructType,
    *,
    http_metrics: RequestMetrics | None = None,
) -> pa.Table:
    """One full scan: GET → parse → pointer → fan-out → typed Arrow table."""
    body = fetch_with_retry(
        opts.url,
        connect_timeout_seconds=opts.connect_timeout_seconds,
        read_timeout_seconds=opts.read_timeout_seconds,
        max_retries=opts.max_retries,
        retry_delay_ms=opts.retry_delay_ms,
        metrics=http_metrics,
    )
    nodes = parse_payload(body, opts.xpath)
    return deserialize_nodes(nodes, schema)


def _local_relation(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver rows → LocalTableScan through the same Arrow hand-off as
    :func:`create_lookup_df`; no session conf is touched."""
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(_timestamps_as_utc(table), schema)


def _timestamps_as_utc(table: pa.Table) -> pa.Table:
    """Top-level TIMESTAMP columns as UTC instants of their wall-clock
    values, the meaning this route has always given them; Spark reads a
    naive timestamp nested in a ROW/ARRAY/MAP in the session time zone."""
    naive, utc = pa.timestamp("us"), pa.timestamp("us", tz="UTC")
    return table.cast(
        pa.schema([f.with_type(utc) if f.type == naive else f for f in table.schema])
    )


def create_lookup_df(
    spark: SparkSession,
    options: dict[str, object] | HttpLookupOptions,
    schema: StructType | str,
    *,
    stats: FetchStats | None = None,
) -> DataFrame:
    """Build the full-cache lookup DataFrame (one bounded scan).

    The whole payload lives on the driver ≙ the reference's single
    ``GenericInputSplit`` (``HttpInputFormatProvider.scala:80-81``).
    Fetch, JSON parse and the column-wise coercion into a ``pyarrow.Table``
    run eagerly here, so every load error raises from this call.  The table
    goes to ``spark.createDataFrame`` as is: an eager JVM-side
    **LocalTableScan** with no Python workers in the execution path and no
    Spark job to build it, which Catalyst broadcasts directly in the lookup
    join (no shuffle, no scan stage).  No session conf is touched.
    """
    if isinstance(schema, str):
        # DDL-string convenience (`"id INT, name STRING"`); without this,
        # a string schema fails deep inside row deserialization with an
        # opaque AttributeError instead of at the API boundary
        schema = StructType.fromDDL(schema)
    opts = options if isinstance(options, HttpLookupOptions) else validate_options(options)
    t0 = time.monotonic()
    table = fetch_rows(
        opts, schema, http_metrics=stats.http if stats is not None else None
    )
    df = spark.createDataFrame(_timestamps_as_utc(table), schema)
    if stats is not None:
        stats.fetch_count += 1
        stats.last_fetch_duration_s = time.monotonic() - t0
        stats.total_fetch_duration_s += stats.last_fetch_duration_s
        stats.last_row_count = table.num_rows
    return df
