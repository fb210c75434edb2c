"""Seeded synthetic inputs and their expected values.

``generate`` writes ``events``, ``orders`` and ``lineitem`` parquet files
shaped like the engine's sf-directories (same columns, types and value
ranges as the sf0.1 testdata at ``scale=0.1``: 100k events over 30 days
from 1,500 participants). The same seed always gives the same files.

One deliberate difference from stationary noise: ``view`` events shift
their level up from day 16 on, so the drift operators (ADWIN, KS) have a
real change to find and their rows-only results are non-empty.

``expected_medallion`` computes reference row counts with DuckDB straight
from the raw parquet, outside Spark; ``duck`` gives the oracle queries the
same tables.
"""

from __future__ import annotations

import os
from datetime import date, datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
N_DAYS = 30
DRIFT_TYPE = "view"
DRIFT_DAY = 15  # 0-based day index where the shift starts
DRIFT_SHIFT = 120.0  # large enough for ADWIN to flag it even at 1k events

_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (0.1 == the sf0.1 testdata)."""
    return {
        "events": max(1000, int(round(1_000_000 * scale))),
        "users": max(15, int(round(15_000 * scale))),
        "orders": max(1500, int(round(1_500_000 * scale))),
        "lineitem": max(6000, int(round(6_000_000 * scale))),
    }


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    t0 = _us(datetime(2024, 1, 1))
    span = N_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span, n))
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = rng.exponential(50.0, n)
    day = (ts - t0) // (86_400 * 1_000_000)
    drift = (etype == EVENT_TYPES.index(DRIFT_TYPE)) & (day >= DRIFT_DAY)
    value = np.round(value + np.where(drift, DRIFT_SHIFT, 0.0), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
            "value": pa.array(value),
            "props": pa.array(props[rng.integers(0, 100, n)]),
        }
    )


def _days_us(rng: np.random.Generator, lo: date, hi: date, n: int) -> pa.Array:
    d0 = (lo - date(1970, 1, 1)).days
    d1 = (hi - date(1970, 1, 1)).days
    days = rng.integers(d0, d1 + 1, n, dtype=np.int64)
    return pa.array(days * 86_400 * 1_000_000, type=pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
    )
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n // 10, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(list("FOP"), dtype=object)[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
            "o_orderdate": _days_us(rng, date(1995, 1, 1), date(2001, 8, 1), n),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(list("ANR"), dtype=object)[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(list("FO"), dtype=object)[rng.integers(0, 2, n)]),
            "l_shipdate": _days_us(rng, date(1995, 1, 2), date(2001, 11, 4), n),
        }
    )


def generate(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, str]:
    """Write the three tables under ``out_dir`` (one parquet file each, one
    row group, like the testdata) and return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    rng = np.random.default_rng(seed)
    tables = {
        "events": _events(rng, n["events"], n["users"]),
        "orders": _orders(rng, n["orders"]),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"]),
    }
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name], row_group_size=len(tbl))
    return paths


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for name in ("events", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def expected_medallion(data_dir: str) -> dict[str, int]:
    """Row counts every medallion build must land: bronze = events, silver
    and gold unified/labeled = one row per event date, segments = runs of
    consecutive event dates within one calendar month (the gold layer's
    gaps-and-islands rule)."""
    with duck(data_dir) as con:
        n_events = con.sql("SELECT count(*) FROM events").fetchone()[0]
        dates = [
            r[0]
            for r in con.sql(
                "SELECT DISTINCT CAST(ts AS DATE) AS d FROM events ORDER BY d"
            ).fetchall()
        ]
    islands = 1 + sum(
        (b - a).days > 1 or (a.year, a.month) != (b.year, b.month)
        for a, b in zip(dates, dates[1:])
    )
    return {
        "bronze": n_events,
        "silver": len(dates),
        "unified": len(dates),
        "labeled": len(dates),
        "segments": islands,
    }
