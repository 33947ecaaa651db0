"""Seeded, synthetic input generator for the benchmark.

The benchmark may read only its own checkout, so it cannot sample the
sf0.1 test tables (``<sf_dir>/<name>.parquet``: the TPC-H-ish
tables plus ``events``, ``documents`` and ``embeddings``).  It generates
tables with the same row counts, the same physical parquet types (every
timestamp is TIMESTAMP(MICROS) not adjusted to UTC, as in the sf0.1
footers) and value distributions fitted to sf0.1 column by column;
``calibrate.py`` prints the comparison.  Rows are drawn from
``numpy.random.default_rng(seed)``, so one seed always gives the same rows,
and the program only ever sees the written files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 star schema
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

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "new", "blue", "old", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

#: events.ts starts here (2024-01-01T00:00:00Z) in microseconds
EVENTS_T0_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000
_D1995 = np.datetime64("1995-01-01", "us")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, last: int, n: int) -> pa.Array:
    day = rng.integers(first, last + 1, n)
    return _ts(_D1995.astype(np.int64) + day * _DAY_US)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int, first_id: int = 0,
                 t0_us: int = EVENTS_T0_US, span_us: int = 30 * _DAY_US) -> pa.Table:
    """``events`` rows: ids from ``first_id``, ``ts`` ascending with the id
    over ``span_us`` from ``t0_us``, 1500 users, 5 event types."""
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """10-100 words each; 5% are an earlier document plus " dup" (the
    near-duplicates MinHash dedup finds) and 8 repeat one exactly."""
    words = np.array(WORDS)
    near = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    exact = set(rng.choice(np.arange(1, n), 8, replace=False).tolist()) - near
    texts: list[str] = []
    for i in range(n):
        if i in near:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in random directions; the label is independent of them."""
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def star_schema(seed: int) -> dict[str, pa.Table]:
    """All tables of the star schema at sf0.1."""
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    t: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
    }
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", nc)),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", ns)),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, np_)]),
        "p_size": i32(rng.integers(1, 51, np_)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, nl)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, nl)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(rng, 1, 2499, nl),
    })
    t["events"] = events_table(rng, n["events"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_star_schema(sf_dir: str, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in star_schema(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
