"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed writes
the same files.  The program under test only ever sees the parquet files
written here, never the generator.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = ["NQ", "ES", "YM", "RTY", "CL", "GC", "SI", "ZB"]
FIRST_DAY = dt.date(2024, 3, 4)
# the history source refuses days older than 365 days before "today";
# pinning today keeps the inputs independent of the wall clock
TODAY = dt.date(2024, 6, 1)
MINUTES_PER_DAY = 1440
INVALID_SHARE = 0.01
TICK = 0.25

TICK_SCHEMA = pa.schema(
    [
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("symbol", pa.string()),
        ("bid_price", pa.decimal128(10, 4)),
        ("bid_size", pa.int32()),
        ("ask_price", pa.decimal128(10, 4)),
        ("ask_size", pa.int32()),
        ("last_price", pa.decimal128(10, 4)),
        ("last_size", pa.int32()),
    ]
)


def day(i: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=i)


def _prices(p: np.ndarray) -> pa.Array:
    # multiples of the 0.25 tick are exact in binary, so the decimal cast
    # never rounds
    return pa.array(p).cast(pa.decimal128(10, 4))


def land_ticks(
    landing_dir: str,
    seed: int,
    n_symbols: int,
    n_days: int,
    skip: frozenset[tuple[str, int]] = frozenset(),
) -> dict:
    """Write one parquet file of minute ticks per (symbol, day).

    Prices are a seeded random walk on the 0.25 tick grid.  About 1% of
    the minutes also carry a second, invalid tick (non-positive last price)
    that validation must quarantine; valid ticks stay unique per
    (symbol, minute).  ``skip`` leaves out (symbol, day index) pairs: the
    outage days backfill must find.

    Returns the counts the output checks need.
    """
    os.makedirs(landing_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    valid = invalid = 0
    for s in range(n_symbols):
        sym = SYMBOLS[s]
        level = 4000.0 * (s + 1)
        for d in range(n_days):
            steps = rng.integers(-2, 3, MINUTES_PER_DAY)
            last = level + TICK * np.cumsum(steps)
            level = float(last[-1])
            bad = np.flatnonzero(rng.random(MINUTES_PER_DAY) < INVALID_SHARE)
            if (sym, d) in skip:
                continue
            t0 = np.datetime64(day(d).isoformat(), "us")
            ts = t0 + np.arange(MINUTES_PER_DAY) * np.timedelta64(60_000_000, "us")
            ts = np.concatenate([ts, ts[bad]])
            last = np.concatenate([last, -last[bad]])
            bid = np.abs(last) - TICK
            n = len(ts)
            sizes = rng.integers(1, 50, (3, n)).astype(np.int32)
            table = pa.table(
                [
                    pa.array(ts, pa.timestamp("us", tz="UTC")),
                    pa.array([sym] * n),
                    _prices(bid),
                    pa.array(sizes[0]),
                    _prices(bid + TICK),
                    pa.array(sizes[1]),
                    _prices(last),
                    pa.array(sizes[2]),
                ],
                schema=TICK_SCHEMA,
            )
            pq.write_table(table, os.path.join(landing_dir, f"{sym}_{day(d):%Y%m%d}.parquet"))
            valid += MINUTES_PER_DAY
            invalid += len(bad)
    return {"valid": valid, "invalid": invalid}


# ---------------------------------------------------------------------------
# Registry fixture: the ten tables the query registry reads, at the row
# counts of the registry's sf0.01 fixture and with its value domains.
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _dates(rng, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n) * np.timedelta64(86_400_000_000, "us")
    return pa.array(base + offs, pa.timestamp("us"))


def write_fixture(out_dir: str, seed: int) -> None:
    """Write region ... embeddings as one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_ev, n_doc, n_emb = 10000, 500, 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500),
        },
    }

    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev) * np.timedelta64(1, "us")
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }

    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup keys expect
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [("de", "en", "es", "fr", "zh")[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }

    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
