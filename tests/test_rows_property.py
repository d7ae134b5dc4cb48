"""Property-based tests (hypothesis) for the JSON→row coercion layer:
round-trip fidelity, missing/null handling, and strictness invariants hold
for arbitrary generated payloads — not just the golden fixtures."""

import datetime as dt
import json
import math

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_http_full_cache_connector_spark.rows import (
    coerce_object,
    coerce_value,
    deserialize_nodes,
)

SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("l", LongType()),
        StructField("d", DoubleType()),
        StructField("s", StringType()),
        StructField("b", BooleanType()),
    ]
)

payloads = st.fixed_dictionaries(
    {},
    optional={
        "i": st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "l": st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "d": st.none()
        | st.floats(allow_nan=False, allow_infinity=False, width=64),
        "s": st.none() | st.text(max_size=40),
        "b": st.none() | st.booleans(),
        "extra_field": st.text(max_size=10),  # always ignorable
    },
)


@settings(max_examples=200, deadline=None)
@given(node=payloads)
def test_coercion_round_trips_arbitrary_payloads(node):
    row = coerce_object(node, SCHEMA)
    assert len(row) == len(SCHEMA.fields)
    for value, field in zip(row, SCHEMA.fields):
        orig = node.get(field.name)
        if orig is None:
            assert value is None  # missing OR null -> SQL NULL
        elif field.name == "d":
            assert value == float(orig)
        else:
            assert value == orig


@settings(max_examples=100, deadline=None)
@given(
    ts=st.datetimes(
        min_value=dt.datetime(1900, 1, 1),
        max_value=dt.datetime(2100, 1, 1),
    )
)
def test_sql_timestamp_round_trip(ts):
    ts = ts.replace(microsecond=(ts.microsecond // 1000) * 1000)  # ms precision
    text = ts.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    assert coerce_value(text, TimestampType()) == ts
    # ISO 'T' separator accepted too
    assert coerce_value(text.replace(" ", "T"), TimestampType()) == ts


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(
        st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=8
    )
)
def test_array_coercion(values):
    out = coerce_value(values, ArrayType(IntegerType()))
    assert out == values


@settings(max_examples=100, deadline=None)
@given(node=payloads)
def test_deserialize_nodes_failure_names_the_node(node):
    bad = dict(node)
    bad["i"] = "not-an-int"
    with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
        deserialize_nodes([bad], SCHEMA)


@settings(max_examples=50, deadline=None)
@given(num=st.floats(allow_nan=False, allow_infinity=False))
def test_int_column_rejects_fractional_floats(num):
    if num.is_integer():
        assert coerce_value(num, LongType()) == int(num)
    else:
        with pytest.raises(ValueError):
            coerce_value(num, LongType())


def test_bool_not_accepted_as_number():
    with pytest.raises(ValueError):
        coerce_value(True, IntegerType())
    with pytest.raises(ValueError):
        coerce_value(False, DoubleType())


@settings(max_examples=50, deadline=None)
@given(obj=st.dictionaries(st.text(max_size=5), st.integers(), max_size=4))
def test_string_column_serializes_non_text_json(obj):
    out = coerce_value(obj, StringType())
    assert json.loads(out) == obj


# --- column-wise deserialize_nodes vs the row-wise strict definition --------

ALL_TYPES = StructType(
    [
        StructField("i", IntegerType()),
        StructField("l", LongType()),
        StructField("sh", ShortType()),
        StructField("d", DoubleType()),
        StructField("f", FloatType()),
        StructField("s", StringType()),
        StructField("b", BooleanType()),
        StructField("t", TimestampType()),
        StructField("dt", DateType()),
        StructField("dec", DecimalType(10, 2)),
        StructField("dec38", DecimalType(38, 0)),
        StructField("dec38s", DecimalType(38, 18)),
        StructField(
            "r", StructType([StructField("a", IntegerType()), StructField("t", TimestampType())])
        ),
        StructField("arr", ArrayType(IntegerType())),
        StructField("m", MapType(StringType(), DoubleType())),
    ]
)

_bad = st.sampled_from(["abc", "", [1], {"x": 1}])


def _ints(lo: int, hi: int):
    i = st.integers(min_value=lo, max_value=hi)
    return st.one_of(
        i,
        i.map(str),  # quoted number
        i.map(lambda v: f" {v} "),
        st.integers(min_value=-(2**40), max_value=2**40)
        .filter(lambda v: lo <= v <= hi)
        .map(float),  # integral float node
        st.booleans(),  # rejected: bool is not a number
        st.floats(min_value=-1e6, max_value=1e6).filter(lambda v: not v.is_integer()),
        _bad,
    )


_doubles = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False),
    st.integers(min_value=-(2**63), max_value=2**63),  # ints above 2^53 too
    st.floats(allow_nan=False, allow_infinity=False).map(repr),  # quoted
    st.booleans(),
    _bad,
)


@st.composite
def _timestamp_text(draw):
    """SQL-format text in the shapes strptime takes and the ones it refuses."""
    ts = draw(st.datetimes(min_value=dt.datetime(1, 1, 1), max_value=dt.datetime(9999, 12, 31)))
    sep = draw(st.sampled_from([" ", "T"]))
    pad = draw(st.booleans())
    fields = [ts.month, ts.day, ts.hour, ts.minute, ts.second]
    if pad:
        mo, d, h, mi, s = (f"{v:02d}" for v in fields)
    else:  # 1-digit fields where the value allows: strptime accepts them
        mo, d, h, mi, s = (str(v) for v in fields)
    second = draw(st.sampled_from([s, s, s, "60"]))  # leap second: both reject
    digits = draw(st.integers(min_value=0, max_value=7))
    frac = "" if digits == 0 else "." + f"{ts.microsecond:06d}{ts.microsecond % 10}"[:digits]
    text = f"{ts.year:04d}-{mo}-{d}{sep}{h}:{mi}:{second}{frac}"
    return text + draw(st.sampled_from(["", "", "Z", " "]))


_timestamps = st.one_of(
    _timestamp_text(),
    st.sampled_from(
        ["2024-02-29 23:59:59", "2023-02-29 00:00:00", "0000-01-01 00:00:00",
         "2024-01-01 24:00:00", "2024-13-01 00:00:00", "not a timestamp",
         # shapes Arrow's cast would take but strptime refuses
         "2024-01-15", "2024-01-15 10:30", "2024-01-15 10:30:00+01:00",
         "2024-01-15T10:30:00.000-0800", "2024-01-15 10:30:00.5Z "]
    ),
    st.integers(min_value=0, max_value=2**31),
)
_dates = st.one_of(st.dates().map(dt.date.isoformat), st.just("2023-02-29"), st.integers())
_decimals = st.one_of(
    st.integers(min_value=-(10**7), max_value=10**7),
    st.decimals(min_value=-(10**7), max_value=10**7, places=2).map(str),
    st.just("x1"),
)
# up to the full 38 digits, past the 28 of Python's default decimal context
_wide = 10**38 - 1
_decimals38 = st.one_of(
    st.integers(min_value=-_wide, max_value=_wide),
    st.integers(min_value=-_wide, max_value=_wide).map(str),
)
_decimals38s = st.one_of(
    st.decimals(min_value=-(10**20) + 1, max_value=10**20 - 1, places=18).map(str),
    st.integers(min_value=-(10**20) + 1, max_value=10**20 - 1),
)

_VALUES = {
    "i": _ints(-(2**31), 2**31 - 1),
    "l": _ints(-(2**63), 2**63 - 1),
    "sh": _ints(-(2**15), 2**15 - 1),
    "d": _doubles,
    "f": _doubles,
    "s": st.one_of(
        st.text(max_size=12), st.integers(), st.floats(allow_nan=False), st.booleans(),
        st.lists(st.integers(), max_size=3), st.dictionaries(st.text(max_size=3), st.integers()),
    ),
    "b": st.one_of(st.booleans(), st.sampled_from(["true", "False", "TRUE", "yes"]), st.integers()),
    "t": _timestamps,
    "dt": _dates,
    "dec": _decimals,
    "dec38": _decimals38,
    "dec38s": _decimals38s,
    "r": st.one_of(
        st.fixed_dictionaries({}, optional={"a": _ints(-(2**31), 2**31 - 1), "t": _timestamps}),
        _bad,
    ),
    "arr": st.one_of(st.lists(st.none() | _ints(-(2**31), 2**31 - 1), max_size=4), _bad),
    "m": st.one_of(st.dictionaries(st.text(max_size=3), st.none() | _doubles, max_size=3), _bad),
}


@st.composite
def _nodes(draw):
    """JSON objects over ALL_TYPES: each field missing, null, or a value;
    ``valid`` drops the values the strict path rejects, and sometimes a
    non-object node is slipped in."""
    names = draw(st.lists(st.sampled_from(sorted(_VALUES)), unique=True, max_size=4))
    valid = draw(st.booleans())
    nodes = []
    for _ in range(draw(st.integers(min_value=0, max_value=8))):
        node = {}
        for name in names:
            kind = draw(st.sampled_from(["value", "value", "value", "null", "missing"]))
            if kind == "null":
                node[name] = None
            elif kind == "value":
                v = draw(_VALUES[name])
                if valid:
                    try:
                        coerce_value(v, ALL_TYPES[name].dataType)
                    except Exception:
                        continue  # leave the field out
                node[name] = v
        nodes.append(node)
    if draw(st.booleans()) and nodes:
        nodes.insert(draw(st.integers(0, len(nodes))), draw(st.sampled_from([[1], "x", 3])))
    return nodes


def _first_bad_node(nodes, schema):
    """The node today's row-wise loop names, or None if every node coerces."""
    for node in nodes:
        try:
            coerce_object(node, schema)
        except Exception:
            return node
    return None


@settings(max_examples=400, deadline=None)
@given(nodes=_nodes())
def test_columnwise_deserialize_equals_rowwise_coercion(nodes):
    """The column-wise table holds exactly what ``coerce_object`` yields
    node by node, column by column; malformed input raises the same message
    naming the same first bad node."""
    bad = _first_bad_node(nodes, ALL_TYPES)
    if bad is not None:
        pretty = json.dumps(bad, indent=2, default=str)
        with pytest.raises(RuntimeError) as err:
            deserialize_nodes(nodes, ALL_TYPES)
        assert str(err.value) == f"Failed to deserialize JSON node: {pretty}"
        return
    table = deserialize_nodes(nodes, ALL_TYPES)
    rows = [coerce_object(n, ALL_TYPES) for n in nodes]
    arrow_schema = to_arrow_schema(ALL_TYPES, timestamp_utc=False)
    assert table.schema == arrow_schema
    for i, field in enumerate(arrow_schema):
        expected = [row[i] for row in rows]
        if isinstance(ALL_TYPES.fields[i].dataType, (FloatType, MapType, StructType)):
            # the strict values as the declared Arrow type holds them
            # (float32 rounding, maps as key/value pairs, rows as dicts)
            expected = pa.array(expected, field.type).to_pylist()
        assert table.column(i).to_pylist() == expected, field.name


def test_columnwise_timestamp_fast_path_cases():
    """Shapes Arrow's cast takes agree with strptime; shapes it must not
    take (1-digit fields, trailing Z, whitespace) still parse strictly."""
    schema = StructType([StructField("t", TimestampType())])
    texts = [
        "2024-01-15 20:30:00", "2024-01-15T23:59:59.5", "2024-01-15 21:00:00.123456",
        "2024-1-5 3:04:05", "2024-01-15 10:30:00Z", " 2024-01-15 10:30:00 ", None,
    ]
    got = deserialize_nodes([{"t": t} for t in texts], schema).column(0).to_pylist()
    assert got == [None if t is None else coerce_value(t, TimestampType()) for t in texts]
    # strptime refuses these; Arrow's cast alone would take the last four
    for text in ("2024-01-15 10:30:60", "2023-02-29 10:30:00", "0000-01-01 00:00:00",
                 "2024-01-15", "2024-01-15 10:30", "2024-01-15 10", "x2024-01-15 10:30:00"):
        with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
            deserialize_nodes([{"t": "2024-01-15 10:30:00"}, {"t": text}], schema)


@pytest.mark.parametrize(
    "ddl_type, value",
    [(IntegerType(), 2**40), (ShortType(), 40_000), (LongType(), 2**64),
     (DecimalType(10, 2), "123456789012.5"), (DecimalType(38, 0), "1" + "0" * 38),
     (DecimalType(38, 18), "123456789012345678901.5")],
)
def test_value_out_of_column_range_names_its_node(ddl_type, value):
    """A value the strict coercion accepts but the declared type cannot
    hold fails with the reference error naming its node, not a late Arrow
    or Spark range error."""
    schema = StructType([StructField("v", ddl_type)])
    nodes = [{"v": 1}, {"v": value, "n": 2}, {"v": value, "n": 3}]
    with pytest.raises(RuntimeError) as err:
        deserialize_nodes(nodes, schema)
    assert str(err.value) == "Failed to deserialize JSON node: " + json.dumps(nodes[1], indent=2)


@pytest.mark.parametrize(
    "ddl_type, value, expected",
    [(DecimalType(38, 0), "123456789012345678901234567890", "123456789012345678901234567890"),
     (DecimalType(38, 0), 9 * 10**37, "9" + "0" * 37),
     (DecimalType(38, 18), "12345678901.5", "12345678901.500000000000000000"),
     (DecimalType(38, 18), "12345678901234567890.1234567890123456785",
      "12345678901234567890.123456789012345679")],
)
def test_decimal_up_to_38_digits_loads(ddl_type, value, expected):
    """Every digit the declared precision allows loads, 29 to 38 of them."""
    schema = StructType([StructField("v", ddl_type)])
    got = deserialize_nodes([{"v": value}, {"v": None}], schema).column(0).to_pylist()
    assert [None if v is None else str(v) for v in got] == [expected, None]


def test_strict_coercion_error_wins_over_a_later_range_error():
    """Today's order: every node's strict coercion first, then the range."""
    schema = StructType([StructField("v", IntegerType())])
    nodes = [{"v": 2**40}, {"v": "not-an-int"}]
    with pytest.raises(RuntimeError, match="not-an-int"):
        deserialize_nodes(nodes, schema)


def test_decimal_rounds_half_up_to_the_declared_scale():
    schema = StructType([StructField("v", DecimalType(10, 2))])
    got = deserialize_nodes([{"v": "1.005"}, {"v": 2.675}, {"v": "-1.005"}, {"v": 3}], schema)
    assert [str(v) for v in got.column(0).to_pylist()] == ["1.01", "2.68", "-1.01", "3.00"]
