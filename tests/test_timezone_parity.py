"""Naive TIMESTAMP values keep their meaning on every load route when
neither the session time zone nor the process time zone is UTC.

The payload's timestamps are naive wall-clock text.  What instant each
route gives them is computed explicitly in the test:

- driver route (``create_lookup_df``) and the operators' driver-rows
  hand-off (``_local_relation``): top-level values read as UTC wall clock,
  values nested in a ROW in the session time zone (America/Los_Angeles);
- format and stream routes: row tuples yielded by a reader, whose naive
  datetimes Spark reads in the reading process's local time zone.

Each case runs in a fresh Spark session in a child process, so the JVM and
its Python workers start under the process time zone being tested.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r'''
import datetime as dt, json, tempfile, zoneinfo
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType
from flink_http_full_cache_connector_spark.rows import coerce_object
from flink_http_full_cache_connector_spark.sources.datasource import register
from flink_http_full_cache_connector_spark.sources.local_http import serve_json
from flink_http_full_cache_connector_spark.sources.lookup import (
    _local_relation, create_lookup_df)

DDL = "id INT, ts TIMESTAMP, r STRUCT<t: TIMESTAMP>"
NODES = [
    {"id": 1, "ts": "2024-01-15 10:30:00", "r": {"t": "2024-01-15 10:30:00"}},
    {"id": 2, "ts": "2024-03-10 02:30:00.25", "r": {"t": "2024-07-01 23:59:59"}},
    {"id": 3, "ts": "2024-11-03T01:30:00", "r": {"t": "1969-12-31 23:00:00.5"}},
    {"id": 4, "ts": "2024-07-01 23:59:59.123456Z", "r": None},
    {"id": 5, "ts": None},
]
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.session.timeZone", "America/Los_Angeles")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
register(spark)
schema = StructType.fromDDL(DDL)

def micros(df):
    out = df.selectExpr("id", "unix_micros(ts) AS ts", "unix_micros(r.t) AS rt").collect()
    return sorted(map(list, out))

def local_micros(t):
    return None if t is None else round(t.astimezone(dt.timezone.utc).timestamp() * 10**6)

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

def wall_micros(t, zone):
    return None if t is None else (t.replace(tzinfo=zone) - EPOCH) // dt.timedelta(microseconds=1)

rows = [coerce_object(n, schema) for n in NODES]
got = {}
with serve_json(NODES) as url:
    got["driver"] = micros(create_lookup_df(spark, {"url": url}, schema))
    fmt = spark.read.format("http-lookup-full-cache").schema(DDL).option("url", url)
    got["format"] = micros(fmt.load())
    query = (spark.readStream.format("http-lookup-full-cache").schema(DDL)
             .option("url", url).load().writeStream.format("memory")
             .queryName("tz_stream")
             .option("checkpointLocation", tempfile.mkdtemp()).start())
    query.processAllAvailable()
    query.stop()
    got["stream"] = micros(spark.table("tz_stream"))
got["local_relation"] = micros(_local_relation(spark, rows, schema))
session_zone = zoneinfo.ZoneInfo("America/Los_Angeles")
expected = {
    "driver": sorted([i, wall_micros(ts, dt.timezone.utc),
                      None if r is None else wall_micros(r[0], session_zone)]
                     for i, ts, r in rows),
    "reader": sorted([i, local_micros(ts), None if r is None else local_micros(r[0])]
                     for i, ts, r in rows),
}
print("RESULT " + json.dumps({"got": got, "expected": expected}))
spark.stop()
'''


@pytest.mark.parametrize("process_tz", ["Asia/Tokyo", "UTC"])
def test_naive_timestamps_keep_their_meaning_on_every_route(process_tz, tmp_path):
    env = {
        **os.environ,
        "TZ": process_tz,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    got, expected = out["got"], out["expected"]
    assert got["driver"] == expected["driver"]
    assert got["local_relation"] == expected["driver"]
    assert got["format"] == expected["reader"]
    assert got["stream"] == expected["reader"]
    # the zones really differ: the driver route reads top-level values as UTC
    # and nested ones in the session zone, so the two columns disagree
    first = got["driver"][0]
    assert first[1] == 1705314600000000  # 2024-01-15 10:30:00 UTC
    assert first[2] == 1705343400000000  # 2024-01-15 10:30:00 America/Los_Angeles
    if process_tz == "Asia/Tokyo":
        assert got["format"][0][1] == 1705282200000000  # 10:30:00 Asia/Tokyo
