"""Seeded generator for the engine's ten catalog tables.

The tables follow the shapes the catalog queries are written against
(``nyc_traffic_insight_spark.schemas.TESTDATA_SCHEMAS``): a TPC-H-like
star (region, nation, customer, supplier, part, orders, lineitem), an
``events`` stream, a ``documents`` text corpus and an ``embeddings``
vector table. Row counts scale with ``sf`` the way TPC-H does; value
domains (dates, price ranges, vocabularies, label counts) are fixed so
that every query sees the same kinds of keys, skew and text at every
seed. Each table is one parquet file with one row group, like the
fixture tables the engine's tests read. ``events.ts`` is stored as
TIMESTAMP(NANOS), as in the engine's real tables, so that ``load_table``'s
nanosecond conversion runs in every events scan.

The same ``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a the row scan slow fast table value part hash merge batch spark line "
    "sort window key agg order data column join small customer query big "
    "stream group filter vector"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.5, 0.15, 0.13, 0.12, 0.10]
_EMB_DIM = 64
_EMB_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_DAY_NS = _DAY_US * 1000
_EPOCH_2024_NS = 1_704_067_200 * 1_000_000_000  # 2024-01-01T00:00:00Z


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H scaling)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 10),
        "supplier": n(10_000, 10),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 20),
        "lineitem": n(6_000_000, 50),
        "events": n(1_000_000, 100),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rc = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )

    nc = rc["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    ns = rc["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )

    npart = rc["part"]
    pk = np.arange(npart)
    names = [
        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": retail,
        }
    )

    no = rc["orders"]
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": _ts(
                _EPOCH_1995_US + rng.integers(0, span_days + 1, no) * _DAY_US
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = rc["lineitem"]
    l_part = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    flag_status = rng.integers(0, 6, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * (900.0 + rng.uniform(0.0, 1200.0, nl)), 2
            ),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flag_status // 2],
            "l_linestatus": np.array(["F", "O"])[flag_status % 2],
            "l_shipdate": _ts(
                _EPOCH_1995_US + rng.integers(1, span_days + 96, nl) * _DAY_US
            ),
        }
    )

    ne = rc["events"]
    n_users = max(15, int(round(15_000 * sf)))
    gaps = rng.exponential(30 * _DAY_NS / ne, ne)
    ts = _EPOCH_2024_NS + np.cumsum(gaps).astype("int64")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = rc["documents"]
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup tier's input
            src = texts[int(rng.integers(0, i))].split(" ")
            keep = src[: max(1, int(len(src) * rng.uniform(0.3, 1.0)))]
            texts.append(" ".join(keep + ["dup"] * int(rng.integers(1, 3))))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    nv = rc["embeddings"]
    centers = rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, nv)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=len(table) + 1,
        )
    return out_dir
