"""Seeded input generators for the benchmark.

``write_tables`` writes the ten fixture tables the batch queries read
(the TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) with the schemas, value domains and single-row-group
layout of the engine's reference fixtures. ``tick_files`` yields the
stock-tick stream, one NDJSON file's worth per event-second. The same seed
always gives the same bytes.
"""

from __future__ import annotations

import itertools
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()

_DAY_MS = 86_400_000


def _days_ms(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_MS


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    # One row group per file, like the reference fixtures: a scan of a
    # table is then one task unless the loader repartitions it.
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> dict:
    label = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(0.0, 0.6, (labels, dim))
    x = centers[label] + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(x.ravel(), pa.float32()))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all fixture tables at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_line, n_evt = max(400, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_doc, n_emb = max(50, int(50_000 * sf)), max(50, int(20_000 * sf))
    i32, i64 = np.int32, np.int64

    def pick(choices, n):
        return pa.array([choices[j] for j in rng.integers(0, len(choices), n)])

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    nouns = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, len(PART_ADJ), n_part), nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    ts_ms = pa.timestamp("ms")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": pa.array(_days_ms(rng, n_ord, "1995-01-01", "2001-08-01"), ts_ms),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) * 0.01, 2)),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days_ms(rng, n_line, "1995-01-02", "2001-11-04"), ts_ms)})
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(i64)
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**9, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=i64)),
        "ts": pa.array(ev_ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_evt).astype(i64)),
        "event_type": pick(EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "events": n_evt, "documents": n_doc, "embeddings": n_emb}


T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
#: A late tick is this many seconds older than the file it arrives in:
#: far behind the watermark (5 s delay plus at most one catch-up batch).
LATE_S = 60
#: A re-sent tick arrives this many files after its original, so the two
#: never share a micro-batch when a batch takes at most this many files.
RESEND_AFTER = 12


def _tick(sym: str, sec: int, vwap: float, size: int, real: bool) -> dict:
    ts = T0 + timedelta(seconds=sec)
    iso = ts.isoformat()
    return {
        "symbol": sym, "type": "stock", "start": iso,
        "end": (ts + timedelta(seconds=1)).isoformat(),
        "current_time": iso, "last_data_time": iso,
        "real_data_count": int(real), "filled_data_count": int(not real),
        "real_or_filled": "real" if real else "filled",
        "vwap_price_per_sec": vwap, "size_per_sec": size,
        "volume_till_now": 1000.0 + sec, "yesterday_price": 100.0,
        "price_change_percentage": 0.5,
    }


def tick_files(n_symbols: int, seed: int):
    """Yield the ticks of event-seconds 0, 1, 2, ... without end, one
    list per second in arrival order (FIXTURES.md §A1 recipe):

    * about 2% of (symbol, second) pairs are missing, so the windows
      covering them fail the exactly-5 gate;
    * about 5% of ticks have ``size_per_sec == 0``;
    * about 1% of ticks arrive twice in their own file (identical
      payload) and about 1% are re-sent ``RESEND_AFTER`` files later
      with another price, which keep-first dedup must drop;
    * about one file in five carries a tick ``LATE_S`` seconds late,
      which the watermark must drop;
    * real and filled ticks are mixed.
    """
    rng = np.random.default_rng(seed)
    syms = [f"S{i:04d}" for i in range(n_symbols)]
    resend: dict[int, list[dict]] = {}
    for sec in itertools.count():
        present = rng.random(n_symbols) >= 0.02
        prices = np.round(rng.uniform(50.0, 150.0, n_symbols), 4)
        sizes = np.where(rng.random(n_symbols) < 0.05, 0, rng.integers(1, 500, n_symbols))
        real = rng.random(n_symbols) < 0.7
        dup = rng.random(n_symbols)
        out = resend.pop(sec, [])
        for i in np.flatnonzero(present):
            t = _tick(syms[i], sec, float(prices[i]), int(sizes[i]), bool(real[i]))
            out.append(t)
            if dup[i] < 0.01:
                out.append(dict(t))
            elif dup[i] < 0.02:
                resend.setdefault(sec + RESEND_AFTER, []).append(
                    dict(t, vwap_price_per_sec=float(prices[i]) + 1.0))
        if sec >= LATE_S and rng.random() < 0.2:
            i = int(rng.integers(0, n_symbols))
            out.append(_tick(syms[i], sec - LATE_S, 1.0, 1, True))
        yield out


def write_tick_file(path: str, ticks: list[dict], mtime: float) -> None:
    with open(path, "w") as fh:
        fh.writelines(json.dumps(t) + "\n" for t in ticks)
    os.utime(path, (mtime, mtime))
