"""Seeded generator for the engine's parquet tables.

:func:`write` writes the ten tables ``sources.loader.TESTDATA_TABLES`` names, with the
column names, Arrow types and value distributions of the repository's
testdata (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), scaled by ``sf`` the same way (sf0.01 = 60k lineitems).
Every value is drawn from ``numpy.random.default_rng(seed)``, so one seed
always yields identical inputs and the benchmark never reads data from
outside its own checkout.

:func:`write_sap_fixtures` writes the SAP tables of
``sources.synth.generate_sap_fixtures`` as parquet, without a Spark session.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
NEAR_DUP_TOKEN = "dup"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "new", "blue", "old", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
N_LABELS = 10


def _ts(start: datetime.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (offsets_s * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: datetime.date, n: int, span: int, rng) -> pa.Array:
    return _ts(datetime.datetime.combine(start, datetime.time()), rng.integers(0, span, n) * 86400.0)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_vec, n_ev = max(int(50_000 * sf), 50), max(int(50_000 * sf), 50), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(datetime.date(1995, 1, 1), n_ord, 2404, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(datetime.date(1995, 1, 2), n_li, 2499, rng),
    })

    # ts ascending with event_id, over 30 days; value ~ exponential(50)
    ev_offsets = np.sort(rng.uniform(0, 30 * 86400.0, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1), ev_offsets),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    # uniform bag-of-words documents; ~5% are near-duplicates of an earlier
    # document (one word swapped, the marker token appended) so the dedup
    # lanes find real pairs
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words + [NEAR_DUP_TOKEN]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # unit vectors around ten weak label centroids
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centers *= 1.2 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Generate every table for ``seed`` and write ``<name>.parquet`` files
    under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class _RowSink:
    """Stands in for the SparkSession ``generate_sap_fixtures`` builds its
    DataFrames with: keeps each table's rows and schema instead."""

    def createDataFrame(self, data, schema):  # noqa: N802 (SparkSession API)
        return data, schema


def _arrow_type(dt) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return {
        T.DateType: pa.date32(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.DoubleType: pa.float64(),
    }.get(type(dt), pa.string())


def write_sap_fixtures(out_dir: str, seed: int) -> list[str]:
    """Write ``generate_sap_fixtures(seed)`` as ``<TABLE>.parquet`` files;
    returns the table names."""
    from sap_sql_engine_spark.sources.registry import SemanticModel
    from sap_sql_engine_spark.sources.synth import generate_sap_fixtures

    os.makedirs(out_dir, exist_ok=True)
    fixtures = generate_sap_fixtures(_RowSink(), SemanticModel.load(), seed=seed, register=False)
    for name, (rows, schema) in fixtures.items():
        fields = [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
        cols = list(zip(*rows)) if rows else [()] * len(fields)
        tbl = pa.table([pa.array(c, f.type) for c, f in zip(cols, fields)], schema=pa.schema(fields))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(fixtures)
