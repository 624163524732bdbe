"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (``parquet_to_postgres_spark.TABLES``) with
the schemas listed in FIXTURES.md, plus the lineitem-shaped ETL source.  The
same seed gives byte-identical inputs; the program under test only ever sees
these files.

Row counts and distributions follow the fixture tables at sf0.001, sf0.01
and sf0.1, as measured by ``shape.py`` (figures in STEADINESS.json under
``input_shape``): the star schema and events scale linearly with ``scale``;
documents and embeddings have a floor of 500 rows and scale linearly above
it.  Foreign keys are uniform, prices cent-rounded, order/ship dates
day-grain and independent, events time-sorted over 30 days with ~67 events
per user and exponential values (mean 50).  Documents are 10-99 words drawn
from a 30-word vocabulary; one in 20 is replaced by a copy of another
document with " dup" appended (exact duplicates arise only when two copies
share a source).  Embeddings are unit-norm Gaussian vectors with labels
drawn independently of them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data"
).split()
EMB_DIM = 64

# Fixture row counts at sf0.1.  Measured at sf0.001 / 0.01 / 0.1: the
# first six tables scale linearly; documents read 500 / 500 / 5000 and
# embeddings 500 / 500 / 2000, which linear with a floor of ROW_FLOOR
# fits (three points do not pin the curve between 0.01 and 0.1).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
ROW_FLOOR = {"documents": 500, "embeddings": 500}
EVENTS_PER_USER = 1_000 / 15  # 15 / 150 / 1500 users at sf0.001 / 0.01 / 0.1
DUP_EVERY = 20  # 25 / 25 / 250 " dup" copies in 500 / 500 / 5000 documents

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rows(name: str, scale: float) -> int:
    return max(ROW_FLOOR.get(name, 10), int(round(SF01_ROWS[name] * scale / 0.1)))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, n: int, first: int, span: int) -> pa.Array:
    """Day-grain timestamps ``first`` .. ``first + span - 1`` days after 1995-01-01."""
    us = _EPOCH_1995 + (first + rng.integers(0, span, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, 1, 2_499),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # near duplicates, as in the fixture: a copy of another document with
    # " dup" appended, so dedup and LSH have real pairs to find
    for i in rng.choice(n, size=max(1, n // DUP_EVERY), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten catalog tables for ``seed`` at fixture scale ``scale``."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p, n_o = (_rows(t, scale) for t in ("customer", "supplier", "part", "orders"))
    n_users = max(10, int(round(_rows("events", scale) / EVENTS_PER_USER)))
    keys = {t: np.arange(_rows(t, scale)) for t in ("customer", "supplier", "part", "orders")}
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(keys["customer"], pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
                "c_acctbal": _cents(rng, -999.99, 9_999.99, n_c),
                "c_mktsegment": _pick(rng, SEGMENTS, n_c),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(keys["supplier"], pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
                "s_acctbal": _cents(rng, -999.99, 9_999.99, n_s),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(keys["part"], pa.int64()),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(rng.integers(0, len(PART_ADJ), n_p), rng.integers(0, len(PART_NOUN), n_p))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
                "p_type": _pick(rng, PART_TYPES, n_p),
                "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
                "p_retailprice": 900.0 + (keys["part"] % 1_000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(keys["orders"], pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
                "o_totalprice": _cents(rng, 1_000.0, 500_000.0, n_o),
                "o_orderdate": _days(rng, n_o, 0, 2_405),
                "o_orderpriority": _pick(rng, PRIORITIES, n_o),
            }
        ),
        "lineitem": lineitem_table(rng, _rows("lineitem", scale), n_o, n_p, n_s),
        "events": _events(rng, _rows("events", scale), n_users),
        "documents": _documents(rng, _rows("documents", scale)),
        "embeddings": _embeddings(rng, _rows("embeddings", scale)),
    }


def write_catalog(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet`` (one row
    group each, like the fixture); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_etl_source(path: str, seed: int, scale: float, row_group_rows: int) -> dict[str, int]:
    """The ETL source: a lineitem table at fixture scale ``scale``, written
    in ``row_group_rows`` row groups so the scan splits across task slots.
    Returns rows, bytes, row groups and the orderkey range the partitioned
    read-back needs."""
    rng = np.random.default_rng([seed, 2])
    n_o = _rows("orders", scale)
    table = lineitem_table(rng, _rows("lineitem", scale), n_o, _rows("part", scale), _rows("supplier", scale))
    pq.write_table(table, path, row_group_size=row_group_rows)
    return {
        "rows": table.num_rows,
        "bytes": os.path.getsize(path),
        "row_groups": pq.ParquetFile(path).metadata.num_row_groups,
        "orderkey_lo": 0,
        "orderkey_hi": n_o,
    }
