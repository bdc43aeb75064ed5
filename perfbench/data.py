"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed and size arguments, so
the same ``--seed`` always gives byte-identical inputs. Tables are built
column-wise with numpy and pyarrow (no Spark), which keeps derivation
cheap and steady: derivation is part of ``setup_s``.

Shapes follow the repository's TPC-H-ish test tables (TESTDATA.md):
customers own orders, orders own lineitems; documents draw words from a
small vocabulary; embeddings are unit-norm 64-d float vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
TIERS = np.array(["bronze", "silver", "gold", "platinum"])
CHANNELS = np.array(["web", "store", "phone"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])
WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big stream order "
    "group filter vector".split()
)

# 1995-01-01 .. 2001-12-31 in microseconds since the epoch
_T0_US = 788_918_400_000_000
_SPAN_US = 7 * 365 * 86_400_000_000
_TS = pa.timestamp("us", tz="UTC")

# sf0.1 of the repository's test tables: 15k customers, ~150k orders,
# ~600k lineitems
SF01_CUSTOMERS = 15_000


def _pick(rng: np.random.Generator, vocab: np.ndarray, n: int) -> pa.Array:
    return pa.array(vocab[rng.integers(0, len(vocab), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, _SPAN_US // 86_400_000_000, n)
    return pa.array(_T0_US + days * 86_400_000_000, type=_TS)


def _blocks(rng: np.random.Generator, values: np.ndarray, n: int) -> np.ndarray:
    """``n`` draws made of back-to-back shuffles of ``values``."""
    reps = -(-n // len(values))
    return rng.permuted(np.tile(values, (reps, 1)), axis=1).ravel()[:n]


def nested_customers(seed: int, n_customers: int) -> pa.Table:
    """One row per customer: ``profile`` struct (with a nested
    ``address`` struct), ``attrs`` map<string,string> (``tier`` always
    present, ``channel`` on about half the rows), and ``orders``, an
    array of order structs each holding an array of lineitem structs."""
    rng = np.random.default_rng(seed)
    n = n_customers
    custkey = np.arange(1, n + 1, dtype=np.int64)

    address = pa.StructArray.from_arrays(
        [
            pa.array([f"city_{k}" for k in rng.integers(0, 500, n)]),
            pa.array([f"{k:05d}" for k in rng.integers(0, 100_000, n)]),
        ],
        names=["city", "zip"],
    )
    profile = pa.StructArray.from_arrays(
        [
            _pick(rng, SEGMENTS, n),
            pa.array(_money(rng, -999.99, 9999.99, n)),
            pa.array(rng.integers(0, 25, n).astype(np.int32)),
            address,
        ],
        names=["segment", "acctbal", "nation", "address"],
    )

    has_channel = rng.random(n) < 0.5
    n_attrs = 1 + has_channel.astype(np.int64)
    attr_offsets = np.concatenate([[0], np.cumsum(n_attrs)]).astype(np.int32)
    keys = np.empty(attr_offsets[-1], dtype=object)
    vals = np.empty(attr_offsets[-1], dtype=object)
    keys[attr_offsets[:-1]] = "tier"
    vals[attr_offsets[:-1]] = TIERS[rng.integers(0, len(TIERS), n)]
    second = attr_offsets[:-1][has_channel] + 1
    keys[second] = "channel"
    vals[second] = CHANNELS[rng.integers(0, len(CHANNELS), len(second))]
    attrs = pa.MapArray.from_arrays(
        pa.array(attr_offsets), pa.array(keys, pa.string()), pa.array(vals, pa.string())
    )

    # 0..20 orders per customer and 1..7 lineitems per order, drawn as
    # shuffled blocks so that every 21 customers hold exactly 210 orders and
    # every 7 orders exactly 28 lineitems: a prefix's size does not depend
    # on the seed
    n_orders = _blocks(rng, np.arange(0, 21), n)
    order_offsets = np.concatenate([[0], np.cumsum(n_orders)]).astype(np.int32)
    m = int(order_offsets[-1])
    n_lines = _blocks(rng, np.arange(1, 8), m)
    line_offsets = np.concatenate([[0], np.cumsum(n_lines)]).astype(np.int32)
    k = int(line_offsets[-1])
    linenumber = (np.arange(k) - np.repeat(line_offsets[:-1], n_lines) + 1).astype(np.int32)
    lineitem = pa.StructArray.from_arrays(
        [
            pa.array(rng.integers(1, 20_001, k)),
            pa.array(rng.integers(1, 1_001, k)),
            pa.array(linenumber),
            pa.array(rng.integers(1, 51, k).astype(np.float64)),
            pa.array(_money(rng, 900.0, 105_000.0, k)),
            pa.array(rng.integers(0, 11, k) / 100.0),
            pa.array(rng.integers(0, 9, k) / 100.0),
            _pick(rng, RETURNFLAGS, k),
            _pick(rng, LINESTATUSES, k),
            _day_ts(rng, k),
        ],
        names=[
            "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    order = pa.StructArray.from_arrays(
        [
            pa.array(np.arange(1, m + 1, dtype=np.int64)),
            _pick(rng, STATUSES, m),
            pa.array(_money(rng, 850.0, 550_000.0, m)),
            _day_ts(rng, m),
            _pick(rng, PRIORITIES, m),
            pa.ListArray.from_arrays(pa.array(line_offsets), lineitem),
        ],
        names=[
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority", "lineitems",
        ],
    )
    return pa.table(
        {
            "c_custkey": pa.array(custkey),
            "c_name": pa.array([f"Customer#{c:09d}" for c in custkey]),
            "profile": profile,
            "attrs": attrs,
            "orders": pa.ListArray.from_arrays(pa.array(order_offsets), order),
        }
    )


def write_parquet(table: pa.Table, path: str, row_group_rows: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_rows)
    return path


# --------------------------------------------------------------------------
# flat tables for the operator chain (load_tables layout: <dir>/<name>.parquet)
# --------------------------------------------------------------------------

def flat_tables(seed: int, n_lineitems: int, n_documents: int, n_embeddings: int) -> dict[str, pa.Table]:
    """``lineitem``, ``documents`` and ``embeddings`` with the column
    names and types of the repository's test tables."""
    rng = np.random.default_rng(seed)
    k = n_lineitems
    n_orders = max(1, k // 4)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n_orders + 1, k)),
            "l_partkey": pa.array(rng.integers(1, 2_001, k)),
            "l_suppkey": pa.array(rng.integers(1, 101, k)),
            "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, k)),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(rng, RETURNFLAGS, k),
            "l_linestatus": _pick(rng, LINESTATUSES, k),
            "l_shipdate": pa.array(_T0_US + rng.integers(0, 2500, k) * 86_400_000_000, type=pa.timestamp("us")),
        }
    )

    d = n_documents
    lengths = rng.integers(8, 90, d)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), int(n))]) for n in lengths]
    # every 10th document repeats an earlier one exactly and every 10th
    # (offset 5) repeats one with its last word changed, so the exact and
    # near-duplicate stages of the curation funnel both have work to do
    for i in range(10, d, 10):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in range(15, d, 10):
        words = texts[int(rng.integers(0, i))].split()
        words[-1] = str(WORDS[int(rng.integers(0, len(WORDS)))])
        texts[i] = " ".join(words)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(d, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, langs, d),
            "source": pa.array([f"src{i % 20}" for i in range(d)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    e = n_embeddings
    labels = rng.integers(0, 10, e)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(e, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(e, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return {"lineitem": lineitem, "documents": documents, "embeddings": embeddings}


# --------------------------------------------------------------------------
# Avro-JSON records for the per-record host
# --------------------------------------------------------------------------

HOST_AVRO_SCHEMA = {
    "type": "record",
    "name": "Customer",
    "namespace": "perfbench",
    "fields": [
        {"name": "c_custkey", "type": "long"},
        {"name": "c_name", "type": "string"},
        {
            "name": "profile",
            "type": {
                "type": "record",
                "name": "Profile",
                "fields": [
                    {"name": "segment", "type": "string"},
                    {"name": "acctbal", "type": "double"},
                    {
                        "name": "address",
                        "type": {
                            "type": "record",
                            "name": "Address",
                            "fields": [
                                {"name": "city", "type": "string"},
                                {"name": "zip", "type": "string"},
                            ],
                        },
                    },
                ],
            },
        },
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
        {
            "name": "orders",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "Order",
                    "fields": [
                        {"name": "o_orderkey", "type": "long"},
                        {"name": "o_totalprice", "type": "double"},
                        {"name": "o_orderdate", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                        {
                            "name": "lineitems",
                            "type": {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "Lineitem",
                                    "fields": [
                                        {"name": "l_partkey", "type": "long"},
                                        {"name": "l_quantity", "type": "double"},
                                        {"name": "l_extendedprice", "type": "double"},
                                    ],
                                },
                            },
                        },
                    ],
                },
            },
        },
    ],
}


def host_records(seed: int, n: int) -> list[dict]:
    """``n`` Avro-JSON-encoded records of :data:`HOST_AVRO_SCHEMA`
    (timestamps as micros longs, as a producer would send them)."""
    rng = np.random.default_rng(seed)
    out = []
    orderkey = 0
    for i in range(n):
        orders = []
        for _ in range(int(rng.integers(0, 6))):
            orderkey += 1
            orders.append(
                {
                    "o_orderkey": orderkey,
                    "o_totalprice": float(np.round(rng.uniform(850.0, 550_000.0), 2)),
                    "o_orderdate": int(_T0_US + rng.integers(0, 2500) * 86_400_000_000),
                    "lineitems": [
                        {
                            "l_partkey": int(rng.integers(1, 20_001)),
                            "l_quantity": float(rng.integers(1, 51)),
                            "l_extendedprice": float(np.round(rng.uniform(900.0, 105_000.0), 2)),
                        }
                        for _ in range(int(rng.integers(1, 5)))
                    ],
                }
            )
        attrs = {"tier": str(TIERS[rng.integers(0, len(TIERS))])}
        if rng.random() < 0.5:
            attrs["channel"] = str(CHANNELS[rng.integers(0, len(CHANNELS))])
        out.append(
            {
                "c_custkey": i + 1,
                "c_name": f"Customer#{i + 1:09d}",
                "profile": {
                    "segment": str(SEGMENTS[rng.integers(0, len(SEGMENTS))]),
                    "acctbal": float(np.round(rng.uniform(-999.99, 9999.99), 2)),
                    "address": {
                        "city": f"city_{int(rng.integers(0, 500))}",
                        "zip": f"{int(rng.integers(0, 100_000)):05d}",
                    },
                },
                "attrs": attrs,
                "orders": orders,
            }
        )
    return out
