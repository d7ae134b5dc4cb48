"""End-to-end lookup-table + lookup-join tests against the local mock server
— port of the reference's hermetic integration suite
(``HttpLookupConnectorIntegrationTest.scala``, pinned behaviors 1-3 in
FIXTURES.md) plus batch-form B1-B4 query shapes."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from flink_http_full_cache_connector_spark.http_client import HttpFetchError
from flink_http_full_cache_connector_spark.operators.lookup_join import (
    lookup_join,
    with_proc_time,
)
from flink_http_full_cache_connector_spark.sources.lookup import FetchStats, create_lookup_df
from tests.conftest import USERS_V1

USERS_SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("username", StringType()),
        StructField("email", StringType()),
    ]
)


def test_full_cache_contains_all_records(spark, http_server):
    """Pinned behavior 1: sequence probe 1-10 ⋈ cache → exactly 10 rows, all
    fields non-null; endpoint fetched exactly once."""
    stats = FetchStats()
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA, stats=stats)
    probe = spark.range(1, 11).select(F.col("id").cast("int").alias("id"))
    out = lookup_join(probe, cache, on="id", how="inner").collect()
    assert len(out) == 10
    for r in out:
        assert r.name is not None and r.username is not None and r.email is not None
    assert http_server.request_count == 1
    assert stats.fetch_count == 1 and stats.last_row_count == 10


def test_inner_join_golden_rows_order_insensitive(spark, http_server):
    """Pinned behavior 2: orders probe ⋈ users on user_id=id → golden
    name/username/email per key, compared after sort by key."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame(
        [Row(order_id=f"o{i}", user_id=(i % 3) + 1, amount=10.0 * i) for i in range(9)]
    )
    out = lookup_join(probe, cache, on=[("user_id", "id")], how="inner")
    rows = sorted(out.collect(), key=lambda r: (r.user_id, r.order_id))
    assert len(rows) == 9
    golden = {u["id"]: u for u in USERS_V1}
    for r in rows:
        assert r.name == golden[r.user_id]["name"]
        assert r.username == golden[r.user_id]["username"]
        assert r.email == golden[r.user_id]["email"]
    assert "id" not in out.columns  # cache-side key dropped


def test_left_join_keeps_misses_with_nulls(spark, http_server):
    """B2: LEFT OUTER keeps unmatched probe rows with NULL dim columns."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame([Row(user_id=1), Row(user_id=99)])
    rows = {
        r.user_id: r
        for r in lookup_join(probe, cache, on=[("user_id", "id")], how="left").collect()
    }
    assert rows[1].name == "Mock User 1"
    assert rows[99].name is None and rows[99].email is None


def test_retry_then_success_e2e(spark, http_server):
    """Pinned behavior 3: 500, 500, 200 → query succeeds, exactly 3 calls."""
    http_server.set_status_sequence([500, 500])
    cache = create_lookup_df(
        spark,
        {"url": http_server.url, "max.retries": "3", "retry.delay.ms": "10"},
        USERS_SCHEMA,
    )
    assert cache.count() == 10
    assert http_server.request_count == 3


def test_fail_fast_fails_query(spark, http_server):
    """Pinned behavior 5 (batch form): permanent 500 + max.retries=1 →
    error chain contains the HTTP status."""
    http_server.set_status_sequence([500] * 10)
    with pytest.raises(HttpFetchError) as exc:
        create_lookup_df(
            spark,
            {"url": http_server.url, "max.retries": "1", "retry.delay.ms": "10"},
            USERS_SCHEMA,
        )
    assert "HTTP request failed with status 500" in str(exc.value.__cause__)


def test_json_pointer_and_single_object(spark, http_server):
    http_server.set_payload({"wrap": {"users": USERS_V1[:3]}})
    cache = create_lookup_df(
        spark, {"url": http_server.url, "xpath": "/wrap/users"}, USERS_SCHEMA
    )
    assert cache.count() == 3

    http_server.set_payload(USERS_V1[0])  # single object → 1 row
    cache1 = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    assert cache1.collect() == [Row(id=1, name="Mock User 1", username="mockuser1", email="user1@example.com")]


def test_projection_and_nested_subquery(spark, http_server):
    """B3/B4: select-list projection and projection over a derived table."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame([Row(order_id="a", user_id=2, amount=5.0)])
    joined = lookup_join(probe, cache, on=[("user_id", "id")], how="left")
    derived = joined.select("order_id", "user_id", "name", "amount")  # B4 inner projection
    out = derived.select("order_id", "name").collect()  # B3 outer projection
    assert out == [Row(order_id="a", name="Mock User 2")]


def test_proc_time_column(spark):
    """B5: proc_time AS PROCTIME()."""
    df = with_proc_time(spark.range(3))
    rows = df.collect()
    assert all(r.proc_time is not None for r in rows)
    assert dict(df.dtypes)["proc_time"] == "timestamp"


def test_broadcast_in_plan(spark, http_server):
    """The dimension side must broadcast — no shuffle on the probe side."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.range(100).select(F.col("id").cast("int").alias("id"))
    plan = lookup_join(probe, cache, on="id", how="inner")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_empty_payload_yields_empty_typed_df(spark, http_server):
    """Empty JSON array -> 0-row DataFrame with the declared schema."""
    http_server.set_payload([])
    df = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    assert df.count() == 0
    assert df.schema == USERS_SCHEMA


def test_nested_row_schema_through_arrow_path(spark, http_server):
    """Nested ROW columns (HttpLookupTableSourceFactoryTest.scala:189-193)
    must survive the Arrow local-relation path: struct values populated,
    missing nested field -> NULL, plan stays a LocalTableScan."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    nested = StructType(
        [
            StructField("id", IntegerType()),
            StructField(
                "address",
                StructType(
                    [StructField("city", StringType()), StructField("zip", StringType())]
                ),
            ),
        ]
    )
    http_server.set_payload(
        [{"id": 1, "address": {"city": "Oslo", "zip": "0150"}}, {"id": 2}]
    )
    df = create_lookup_df(spark, {"url": http_server.url}, nested)
    rows = {r.id: r.address for r in df.collect()}
    assert rows[1].city == "Oslo" and rows[1].zip == "0150"
    assert rows[2] is None
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_lookup_join_accepts_column_condition(spark, http_server):
    """The `df.join(other, cond)` shape Spark users reach for first: a raw
    boolean Column condition must pass through (it used to crash with
    CANNOT_CONVERT_COLUMN_INTO_BOOL on the `if on` truthiness probe)."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.range(1, 11).select(F.col("id").cast("int").alias("user_id"))
    out = lookup_join(
        probe, cache, probe.user_id == cache.id, how="inner"
    ).collect()
    assert len(out) == 10
    assert all(r.user_id == r.id for r in out)


def test_create_lookup_df_accepts_ddl_schema(spark, http_server):
    """DDL-string schema convenience: `"id INT, name STRING"` must parse at
    the API boundary (it used to fail deep inside row deserialization with
    an opaque AttributeError)."""
    cache = create_lookup_df(
        spark,
        {"url": http_server.url},
        "id INT, name STRING, username STRING, email STRING",
    )
    assert cache.count() == 10
    assert [f.name for f in cache.schema.fields] == [
        "id", "name", "username", "email",
    ]


def test_observed_lookup_join_hit_rate_batch(spark, http_server):
    """Cache hit-rate via Spark observed metrics (r4 verdict #7): the
    reference README documents 'Cache Hit Rate' without registering it;
    observed_lookup_join aggregates lookup_total/lookup_hits JVM-side
    during the join's own pass.  7 probe rows, 2 aimed past the 10-user
    cache -> total=7, hits=5, and the marker column never leaks."""
    from pyspark.sql import Observation

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame(
        [Row(order_id=i, user_id=(i % 5) + 1 if i < 5 else 99) for i in range(7)]
    )
    obs = Observation("http_lookup")
    joined = observed_lookup_join(
        probe, cache, on=[("user_id", "id")], how="left", observation=obs
    )
    assert "__lookup_hit__" not in joined.columns
    assert joined.count() == 7
    assert obs.get == {"lookup_total": 7, "lookup_hits": 5}
    # inner join drops the misses, and the hit count tracks the output —
    # lookup_total degrades to output rows, which the call now warns about
    obs2 = Observation("http_lookup_inner")
    with pytest.warns(UserWarning, match="exact only for how='left'"):
        inner = observed_lookup_join(
            probe, cache, on=[("user_id", "id")], how="inner", observation=obs2
        )
    assert inner.count() == 5
    assert obs2.get == {"lookup_total": 5, "lookup_hits": 5}


def test_observed_lookup_join_streaming_progress(spark, http_server, tmp_path):
    """String-named observation on a streaming probe: lookup_total/
    lookup_hits surface in StreamingQueryProgress.observedMetrics — the
    monitoring-system channel the reference README points users at."""
    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    src = str(tmp_path / "probe")
    spark.createDataFrame(
        [Row(order_id=i, user_id=(i % 12) + 1) for i in range(12)]
    ).write.parquet(src)
    probe = spark.readStream.schema("order_id long, user_id long").parquet(src)
    enriched = observed_lookup_join(
        probe, cache, on=[("user_id", "id")], how="left",
        observation="lookup_metrics",
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("observed_lookup_sink")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
        # recentProgress carries the observed metrics of the finished batch
        rows = [
            p.observedMetrics["lookup_metrics"]
            for p in q.recentProgress
            if "lookup_metrics" in (p.observedMetrics or {})
        ]
    finally:
        spark.catalog.dropTempView("observed_lookup_sink")
    assert rows, "no observedMetrics surfaced in StreamingQueryProgress"
    total = sum(r["lookup_total"] for r in rows)
    hits = sum(r["lookup_hits"] for r in rows)
    assert total == 12 and hits == 10  # user_ids 11,12 miss the 10-user cache


def test_observed_lookup_join_counts_probe_rows_not_output_rows(spark):
    """A cache with DUPLICATE join keys fans one probe row out to several
    output rows; the hit metrics must still count lookup REQUESTS (probe
    rows), like the reference's cache-hit-rate definition.  3 probe rows:
    A matches a duplicated key (2 output rows), B matches a unique key,
    C misses -> output 4 rows but total=3, hits=2."""
    from pyspark.sql import Observation, Row

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = spark.createDataFrame(
        [Row(id=1, tag="x"), Row(id=1, tag="y"), Row(id=2, tag="z")]
    )
    probe = spark.createDataFrame(
        [Row(k=1, n="A"), Row(k=2, n="B"), Row(k=9, n="C")]
    )
    obs = Observation("dup_keys")
    joined = observed_lookup_join(
        probe, cache, on=[("k", "id")], how="left", observation=obs
    )
    assert joined.count() == 4  # the join output itself keeps every match
    assert obs.get == {"lookup_total": 3, "lookup_hits": 2}


@pytest.mark.parametrize("route", ["driver", "format"])
def test_out_of_range_int_fails_with_the_reference_error(spark, http_server, route):
    """A JSON integer the declared INT cannot hold fails the load with
    ``Failed to deserialize JSON node`` naming the node, on both routes —
    not an Arrow fallback warning and a late Spark range error."""
    import json
    import warnings

    from flink_http_full_cache_connector_spark.sources.datasource import register

    bad = {"id": 2**40, "name": "too big"}
    http_server.set_payload([{"id": 1, "name": "ok"}, bad])
    ddl = "id INT, name STRING"
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no Arrow-fallback UserWarning either
        with pytest.raises(Exception) as err:
            if route == "driver":
                create_lookup_df(spark, {"url": http_server.url}, ddl)
            else:
                register(spark)
                spark.read.format("http-lookup-full-cache").schema(ddl).option(
                    "url", http_server.url
                ).load().collect()
    msg = str(err.value)
    assert "Failed to deserialize JSON node" in msg and str(2**40) in msg
    if route == "driver":
        assert isinstance(err.value, RuntimeError)
        assert msg == "Failed to deserialize JSON node: " + json.dumps(bad, indent=2)


def test_driver_load_leaves_session_conf_unchanged(spark, http_server):
    """A library call must not flip session conf: the driver-route load and
    the operators' driver-rows hand-off (``_local_relation``) give Spark an
    Arrow table without enabling Arrow for the session."""
    from flink_http_full_cache_connector_spark.sources.lookup import _local_relation

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        df = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
        rows = [tuple(r) for r in df.collect()]
        local = _local_relation(spark, rows, USERS_SCHEMA)
        assert spark.conf.get(key) == "false"
        assert df.count() == 10
        assert sorted(local.collect()) == sorted(df.collect())
        for d in (df, local):
            assert "LocalTableScan" in d._jdf.queryExecution().executedPlan().toString()
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
