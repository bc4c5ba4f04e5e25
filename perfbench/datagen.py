"""Seeded input generation for the benchmark.

Every table the query inventory reads (the TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) is generated here from one
seed, with the schemas, value domains and row-count ratios of the
fixture tables the package is tested on. The same ``(seed, sf)`` always
writes byte-identical parquet, and the program under test only ever sees
these files.

The ingest workload's bus-update feed is an ``events``-shaped table whose
rows are laid out so that replay batch ``b`` (``event_id mod n_batches``,
the rule in ``streaming/replay.py``) holds exactly the events of time
window ``b``: each dropped file then advances event time, the way a live
feed does.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    """n midnight timestamps (epoch micros) uniform in [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixture ratios)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": max(500, n(20_000)),
    }


def _documents(rng, n: int) -> dict:
    """Random word-salad documents; 5% are an earlier document plus a
    trailing ' dup' (near duplicates) and a few are exact copies, so the
    dedup, scrub and decontamination queries find real matches."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def events_table(rng, n: int, n_users: int, n_windows: int = 1) -> pa.Table:
    """``events`` rows spread over January 2024.

    With ``n_windows`` > 1 the month is cut into that many consecutive
    windows and event ``i`` falls in window ``i mod n_windows``, so a
    replay that batches by ``event_id mod n_windows`` emits one time
    window per batch."""
    ids = np.arange(n, dtype="int64")
    start = _micros(dt.datetime(2024, 1, 1))
    month = 30 * 86_400_000_000
    window = month // n_windows
    offsets = np.sort(rng.integers(0, window, n)) if n_windows == 1 else \
        rng.integers(0, window, n)
    ts = start + (ids % n_windows) * window + offsets
    return pa.table({
        "event_id": ids,
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    rc = row_counts(sf)
    n_cust, n_supp, n_part, n_ord = (rc["customer"], rc["supplier"],
                                     rc["part"], rc["orders"])
    nl = rc["lineitem"]
    nation_region = np.concatenate([np.arange(5), rng.integers(0, 5, 20)])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.permutation(nation_region), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                   rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                     dt.datetime(2001, 8, 1))),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, nl).astype("int64"),
            "l_partkey": rng.integers(0, n_part, nl).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, nl).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(_days(rng, nl, dt.datetime(1995, 1, 2),
                                    dt.datetime(2001, 11, 4))),
        }),
        "events": events_table(rng, rc["events"], max(10, int(15_000 * sf))),
        "documents": pa.table(_documents(rng, rc["documents"])),
    }
    ne = rc["embeddings"]
    vecs = rng.standard_normal((ne, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}
