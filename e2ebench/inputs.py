"""Seeded input generators. The program under test sees only what these write.

* ``write_query_tables`` writes the ten registry tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) as one single-row-group
  parquet file each, with the column types, value domains and row-count
  ratios of the reference test tables at scale factor ``sf``.
* ``market_frames`` returns the calendar / universe / stock and ETF daily
  bars that ``flows.run_backfill`` and ``flows.run_daily`` consume, as
  pandas frames (geometric random walks on a weekday calendar).

Both are pure functions of their arguments: the same seed gives the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
FACTORS = sorted(["MTUM", "QUAL", "USMV", "VLUE", "SPY"])


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) + 1)


def write_query_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the registry tables for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb, n_users = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # events: a sorted 30-day stream of µs timestamps, ~3/minute at sf0.01
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # documents: 10-100 random vocabulary words; every 20th doc is a near
    # duplicate (an earlier doc plus " dup") so the similarity queries find pairs
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


def market_frames(n_tickers: int, calendar: list[dt.date], seed: int) -> dict[str, pd.DataFrame]:
    """Daily bars for ``n_tickers`` stocks and the five factor ETFs over
    ``calendar``, plus a universe with two membership changes."""
    rng = np.random.default_rng(seed)
    n = len(calendar)
    tickers = [f"T{i:03d}" for i in range(n_tickers)]

    def bars(names: list[str], vol: float) -> pd.DataFrame:
        frames = []
        for name in names:
            close = 100 * np.exp(np.cumsum(rng.normal(rng.normal(2e-4, 3e-4), vol, n)))
            openp = close * (1 + rng.normal(0, vol / 2, n))
            high = np.maximum(openp, close) * (1 + np.abs(rng.normal(0, vol / 2, n)))
            low = np.minimum(openp, close) * (1 - np.abs(rng.normal(0, vol / 2, n)))
            volume = rng.integers(100_000, 5_000_000, n).astype(float)
            frames.append(pd.DataFrame({
                "ticker": name, "date": calendar,
                "open": np.round(openp, 2), "high": np.round(high, 2),
                "low": np.round(low, 2), "close": np.round(close, 2),
                "volume": volume,
                "trade_count": np.floor(volume / rng.integers(5, 50, n)),
                "vwap": np.round((high + low + close) / 3, 2),
            }))
        return pd.concat(frames, ignore_index=True)

    active = set(tickers[: int(n_tickers * 0.9)])
    changes = {n // 3: (tickers[-1], tickers[0]), 2 * n // 3: (tickers[0], tickers[1])}
    rows = []
    for i, d in enumerate(calendar):
        if i in changes:
            added, removed = changes[i]
            active = (active | {added}) - {removed}
        rows.extend((d, d.year, t) for t in sorted(active))
    return {
        "calendar": pd.DataFrame({"date": calendar}),
        "universe": pd.DataFrame(rows, columns=["date", "year", "ticker"]).astype({"year": "int32"}),
        "stock_bars": bars(tickers, 0.02),
        "etf_bars": bars(FACTORS, 0.01),
    }
