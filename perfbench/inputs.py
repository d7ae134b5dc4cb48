"""Seeded input generators.  The same seed always yields the same inputs.

Three kinds of input, one per workload family:

- the HTTP dimension payload (``dimension``): typed expected values plus
  the JSON body the endpoint serves, written with the flink-json cases a
  semantics-breaking fast path would get wrong (SQL-format timestamps with
  and without a fraction, quoted numbers, explicit nulls, missing fields,
  a numeric node declared STRING, ignored extra fields);
- the probe key stream (``probe_keys``): closed-form keys, so each batch's
  expected hit count is exact;
- the operator-mix tables (``write_mix_tables``): ``documents``,
  ``embeddings`` and ``events`` parquet files in the schema the registered
  queries read, at scale factor 0.01 sizes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM_DDL = "id BIGINT, name STRING, price DOUBLE, qty INT, updated_at TIMESTAMP, gen BIGINT"
DIM_POINTER = "/data/rows"
#: placeholder the endpoint replaces with the response's generation number
GEN_MARK = b'"@GEN@"'
#: share of probe keys with no dimension row
MISS_SHARE = 0.09
_PROBE_STRIDE = 7919  # prime: coprime with every key-space size used here
_WORDS = np.array("alpha bravo delta echo golf kilo lima oscar romeo tango".split())
_TS0 = dt.datetime(2024, 1, 1)


@dataclass
class Dimension:
    ids: np.ndarray  # int64, distinct
    key_space: int  # probe keys are drawn from [0, key_space)
    columns: dict[str, list]  # expected typed values, gen excluded
    body_parts: list[bytes]  # JSON document split at GEN_MARK


def dimension(seed: int, rows: int, *, encode: bool = True) -> Dimension:
    """``rows`` dimension rows; ``encode=False`` skips the JSON body."""
    rng = np.random.default_rng([seed, 1])
    key_space = int(np.ceil(rows / (1.0 - MISS_SHARE)))
    ids = rng.choice(key_space, size=rows, replace=False).astype(np.int64)
    words = _WORDS[rng.integers(0, len(_WORDS), rows)]
    prices = np.round(rng.uniform(1.0, 1000.0, rows), 2)
    qtys = rng.integers(0, 500, rows)
    millis = rng.integers(0, 365 * 86_400_000, rows)
    # flink-json cases, one draw per row
    name_case = rng.random(rows)  # <.03 null, <.05 missing, <.06 numeric node
    price_case = rng.random(rows)  # <.03 null, <.08 quoted
    qty_case = rng.random(rows)  # <.02 null, <.07 quoted
    whole_second = rng.random(rows) < 0.2
    meta = rng.random(rows) < 0.1

    exp: dict[str, list] = {k: [] for k in ("id", "name", "price", "qty", "updated_at")}
    nodes = []
    for i in range(rows):
        key = int(ids[i])
        node: dict = {"id": key}
        nc = name_case[i]
        if nc < 0.03:
            node["name"], name = None, None
        elif nc < 0.05:
            name = None
        elif nc < 0.06:
            node["name"] = key  # a numeric node read as STRING → its JSON text
            name = str(key)
        else:
            name = node["name"] = f"{words[i]}-{key}"
        pc, price = price_case[i], float(prices[i])
        if pc < 0.03:
            node["price"], price = None, None
        else:
            node["price"] = f"{price:.2f}" if pc < 0.08 else price
        qc, qty = qty_case[i], int(qtys[i])
        if qc < 0.02:
            node["qty"], qty = None, None
        else:
            node["qty"] = str(qty) if qc < 0.07 else qty
        ms = int(millis[i])
        if whole_second[i]:
            ms -= ms % 1000
        ts = _TS0 + dt.timedelta(milliseconds=ms)
        text = ts.strftime("%Y-%m-%d %H:%M:%S")
        node["updated_at"] = text if whole_second[i] else f"{text}.{ms % 1000:03d}"
        node["gen"] = "@GEN@"
        node["note"] = "ignored"
        if meta[i]:
            node["meta"] = {"src": "dim", "tags": [1, 2]}
        nodes.append(node)
        exp["id"].append(key)
        exp["name"].append(name)
        exp["price"].append(price)
        exp["qty"].append(qty)
        exp["updated_at"].append(ts)
    parts: list[bytes] = []
    if encode:
        doc = {"data": {"rows": nodes}}
        parts = json.dumps(doc, separators=(",", ":")).encode().split(GEN_MARK)
    return Dimension(ids=ids, key_space=key_space, columns=exp, body_parts=parts)


def probe_keys(batch: int, rows: int, key_space: int) -> np.ndarray:
    """Keys of probe batch ``batch``: ``(seq * stride + batch * rows) % key_space``
    for ``seq`` in ``[0, rows)``, spread evenly over the key space."""
    seq = np.arange(rows, dtype=np.int64)
    return (seq * _PROBE_STRIDE + batch * rows) % key_space


_VOCAB = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast the row "
        "agg key query a scan batch"
    ).split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_DAY_US = 86_400_000_000

#: row counts at scale factor 0.01
MIX_ROWS = {"documents": 500, "embeddings": 500, "events": 10_000}


def write_mix_tables(seed: int, out_dir: str, rows: dict[str, int] = MIX_ROWS) -> None:
    """``documents``/``embeddings``/``events`` parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)

    rng = np.random.default_rng([seed, 2])
    nd = rows["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), n)]) for n in lens]
    # ~5% near-duplicates (one word swapped for a marker) and a few exact
    # copies, so the dedup queries have pairs to find
    for t in rng.choice(nd, size=nd // 20, replace=False):
        words = texts[int(rng.integers(0, nd))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[int(t)] = " ".join(words)
    for t in rng.choice(nd, size=max(1, nd // 625), replace=False):
        texts[int(t)] = texts[int(rng.integers(0, nd))]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, size=nd, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    rng = np.random.default_rng([seed, 3])
    nv = rows["embeddings"]
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(0, 1.0, (nv, 64)) + rng.normal(0, 0.15, (10, 64))[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), pa.float32()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    rng = np.random.default_rng([seed, 4])
    ne = rows["events"]
    ts0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    pq.write_table(
        pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts0 + rng.integers(0, 30 * _DAY_US, ne), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ne // 67), ne), pa.int64()),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, ne)]),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }),
        os.path.join(out_dir, "events.parquet"),
    )
