"""Schema-driven JSON → row coercion (≙ flink-json deserialization).

Reference semantics (``HttpInputFormatProvider.scala:163-172,186-202``,
``JsonRowDataDeserializationSchema`` with ``failOnMissingField=false,
ignoreParseErrors=false, TimestampFormat.SQL``):

- The schema is **declared** (never inferred); JSON fields match declared
  columns by name; extra JSON fields are silently ignored.
- A missing field (or JSON null) yields SQL NULL.
- A malformed value fails the job (``RuntimeError("Failed to deserialize
  JSON node: ...")``).
- Timestamps use SQL format ``yyyy-MM-dd HH:mm:ss[.fff]`` (ISO 'T' separator
  also accepted by flink-json's SQL parser fallback).
- Nested ROW columns recurse (nested projection supported,
  ``HttpLookupTableSource.scala:70``).

``coerce_value``/``coerce_object`` are the one strict definition of these
semantics.  ``deserialize_nodes`` applies them column by column and builds
a ``pyarrow.Table`` (the declared schema's Arrow types, TIMESTAMP as naive
wall-clock ``timestamp[us]``):

- **fast path**: a value that already has its column's canonical JSON type
  (``int`` for INT/BIGINT/SMALLINT, ``float`` for DOUBLE/FLOAT, ``str`` for
  STRING, ``bool`` for BOOLEAN) goes straight into ``pa.array``; a
  TIMESTAMP column whose non-null values all fully match
  ``yyyy-MM-dd[ T]HH:mm:ss[.f{1,6}]`` (hour 00-23, minute and second 00-59)
  is parsed by Arrow's cast.  The fast path accepts a subset of what the
  strict path accepts and yields the same values.
- **strict path**: every other value (quoted numbers, numeric nodes under
  STRING, ints under DOUBLE, any other timestamp text) and every DATE,
  DECIMAL, ROW, ARRAY and MAP column goes through ``coerce_value``; DECIMAL
  values are then rounded half-up to the declared scale.
- **errors**: on any failure the row-wise loop re-runs, so the
  ``RuntimeError`` names the first node the strict coercion rejects (as it
  always has), else the first node holding a value its column's Arrow type
  cannot represent (an out-of-range INT, a DECIMAL over its precision).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)


def _parse_sql_timestamp(text: str) -> _dt.datetime:
    t = text.strip().replace("T", " ")
    # yyyy-MM-dd HH:mm:ss[.fraction][Z]
    if t.endswith("Z"):
        t = t[:-1]
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S"):
        try:
            return _dt.datetime.strptime(t, fmt)
        except ValueError:
            continue
    raise ValueError(f"not a SQL-format timestamp: {text!r}")


def coerce_value(value: Any, dtype: DataType) -> Any:
    """Coerce one JSON value to the declared Spark type (strict)."""
    if value is None:
        return None
    if isinstance(dtype, StringType):
        if isinstance(value, str):
            return value
        # flink-json serializes non-textual nodes back to JSON text
        return json.dumps(value, separators=(",", ":"))
    if isinstance(dtype, BooleanType):
        if isinstance(value, bool):
            return value
        if isinstance(value, str) and value.lower() in ("true", "false"):
            return value.lower() == "true"
        raise ValueError(f"cannot cast {value!r} to BOOLEAN")
    if isinstance(dtype, (IntegerType, LongType, ShortType)):
        if isinstance(value, bool):
            raise ValueError(f"cannot cast {value!r} to integer")
        if isinstance(value, int):
            return value
        if isinstance(value, str):
            return int(value.strip())
        if isinstance(value, float) and value.is_integer():
            return int(value)
        raise ValueError(f"cannot cast {value!r} to integer")
    if isinstance(dtype, (DoubleType, FloatType)):
        if isinstance(value, bool):
            raise ValueError(f"cannot cast {value!r} to double")
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            return float(value.strip())
        raise ValueError(f"cannot cast {value!r} to double")
    if isinstance(dtype, DecimalType):
        return decimal.Decimal(str(value))
    if isinstance(dtype, TimestampType):
        if isinstance(value, str):
            return _parse_sql_timestamp(value)
        raise ValueError(f"cannot cast {value!r} to TIMESTAMP")
    if isinstance(dtype, DateType):
        if isinstance(value, str):
            return _dt.date.fromisoformat(value.strip())
        raise ValueError(f"cannot cast {value!r} to DATE")
    if isinstance(dtype, StructType):
        if isinstance(value, dict):
            return coerce_object(value, dtype)
        raise ValueError(f"cannot cast {value!r} to ROW")
    if isinstance(dtype, ArrayType):
        if isinstance(value, list):
            return [coerce_value(v, dtype.elementType) for v in value]
        raise ValueError(f"cannot cast {value!r} to ARRAY")
    if isinstance(dtype, MapType):
        if isinstance(value, dict):
            return {k: coerce_value(v, dtype.valueType) for k, v in value.items()}
        raise ValueError(f"cannot cast {value!r} to MAP")
    raise ValueError(f"unsupported declared type: {dtype.simpleString()}")


def coerce_object(node: Any, schema: StructType) -> tuple:
    """JSON object → row tuple per declared schema; missing field → None."""
    if not isinstance(node, dict):
        raise ValueError(f"expected JSON object, got {type(node).__name__}")
    return tuple(coerce_value(node.get(f.name), f.dataType) for f in schema.fields)


#: the JSON type a value already has when its declared type needs no coercion
_CANONICAL = {
    IntegerType: int,
    LongType: int,
    ShortType: int,
    DoubleType: float,
    FloatType: float,
    StringType: str,
    BooleanType: bool,
}
_NONE = type(None)

#: SQL-format timestamps that Arrow's string cast parses exactly as
#: ``_parse_sql_timestamp`` does (year 0000 excluded: strptime rejects it)
_SQL_TIMESTAMP = (
    r"^(?:[1-9]\d{3}|0[1-9]\d\d|00[1-9]\d|000[1-9])-\d\d-\d\d[ T]"
    r"(?:[01]\d|2[0-3]):[0-5]\d:[0-5]\d(?:\.\d{1,6})?$"
)


def _column(values: list[Any], dtype: DataType, atype: pa.DataType) -> pa.Array:
    """One declared column's JSON values → Arrow array (fast path where the
    values allow it, ``coerce_value`` for the rest)."""
    canonical = _CANONICAL.get(type(dtype))
    if canonical is not None:
        if not set(map(type, values)) <= {canonical, _NONE}:
            values = [v if type(v) is canonical else coerce_value(v, dtype) for v in values]
        return pa.array(values, atype)
    if isinstance(dtype, TimestampType) and set(map(type, values)) <= {str, _NONE}:
        text = pa.array(values, pa.string())
        if pc.all(pc.match_substring_regex(text, _SQL_TIMESTAMP)).as_py() is not False:
            try:
                return text.cast(atype)
            except pa.ArrowInvalid:  # a day the calendar lacks: strict path
                pass
    values = [coerce_value(v, dtype) for v in values]
    if isinstance(dtype, DecimalType):
        # a context as wide as the column: a value over its precision raises
        exp = decimal.Decimal(1).scaleb(-dtype.scale)
        ctx = decimal.Context(prec=dtype.precision, rounding=decimal.ROUND_HALF_UP)
        values = [None if v is None else v.quantize(exp, context=ctx) for v in values]
    return pa.array(values, atype)


def _table(nodes: list[Any], schema: StructType, arrow_schema: pa.Schema) -> pa.Table:
    if not set(map(type, nodes)) <= {dict}:
        raise ValueError("expected JSON objects")
    return pa.Table.from_arrays(
        [
            _column([n.get(f.name) for n in nodes], f.dataType, af.type)
            for f, af in zip(schema.fields, arrow_schema)
        ],
        schema=arrow_schema,
    )


def deserialize_nodes(nodes: list[Any], schema: StructType) -> pa.Table:
    """Deserialize row-nodes column-wise into a ``pyarrow.Table``; a failure
    raises with the text of the first bad node (≙ ``deserializeNode``,
    ``HttpInputFormatProvider.scala:163-172``)."""
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    try:
        return _table(nodes, schema, arrow_schema)
    except Exception:
        # row-wise: first the strict coercion of every node, then whether
        # each node's values fit their columns' Arrow types
        for check in (
            lambda node: coerce_object(node, schema),
            lambda node: _table([node], schema, arrow_schema),
        ):
            for node in nodes:
                try:
                    check(node)
                except Exception as e:
                    pretty = json.dumps(node, indent=2, default=str)
                    raise RuntimeError(f"Failed to deserialize JSON node: {pretty}") from e
        raise
