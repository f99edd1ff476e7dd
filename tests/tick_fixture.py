"""Deterministic stock-tick fixture + independent golden SMA (FIXTURES.md §A1).

The golden implementation is intentionally NOT Spark: a dict-state
re-derivation of the engine's documented contract (sliding 5s/1s windows,
exactly-5 gate, conditional aggregates) so the Spark pipeline is checked
against independently-computed numbers.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

T0 = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


def make_tick(symbol: str, i: int, vwap: float, size: int, real: bool) -> dict:
    ts = T0 + timedelta(seconds=i)
    return {
        "symbol": symbol,
        "type": "stock",
        "start": ts.isoformat(),
        "end": (ts + timedelta(seconds=1)).isoformat(),
        "current_time": ts.isoformat(),
        "last_data_time": ts.isoformat(),
        "real_data_count": 1 if real else 0,
        "filled_data_count": 0 if real else 1,
        "real_or_filled": "real" if real else "filled",
        "vwap_price_per_sec": vwap,
        "size_per_sec": size,
        "volume_till_now": 1000.0 + i,
        "yesterday_price": 100.0,
        "price_change_percentage": 0.5,
    }


def build_fixture() -> list[dict]:
    """FIXTURES.md §A1 recipe: 3 symbols x 60 s with (1) a missing second,
    (2) zero-size seconds, (3) a duplicate (symbol, second), (4) a mix of
    real/filled. (The >5s-late event is exercised separately in the
    streaming watermark test.)"""
    ticks: list[dict] = []
    for i in range(60):
        # AAA: complete, all sizes nonzero, alternating real/filled
        ticks.append(make_tick("AAA", i, 100.0 + 0.5 * i, 10 + i, i % 2 == 0))
        # BBB: second 30 missing -> windows covering it never fire
        if i != 30:
            ticks.append(make_tick("BBB", i, 200.0 - 0.25 * i, 5, True))
        # CCC: every 7th second has size 0 -> excluded from sum AND count
        ticks.append(make_tick("CCC", i, 50.0 + i, 0 if i % 7 == 0 else 3, i % 3 == 0))
    # duplicate (symbol, second) with identical payload: keep-first and
    # last-write-wins coincide, so batch and streaming agree on it
    ticks.append(make_tick("AAA", 10, 105.0, 20, True))
    return ticks


def golden_sma(ticks: list[dict]) -> dict[tuple[str, str], dict]:
    """Independent dict-state evaluation of the sliding-window contract.

    Returns {(symbol, window_start_iso): expected_row}."""
    # dedup: keep-first per (symbol, second) — fixture payloads make this
    # indistinguishable from LWW
    state: dict[tuple[str, datetime], dict] = {}
    for t in ticks:
        key = (t["symbol"], datetime.fromisoformat(t["current_time"]))
        if key not in state:
            state[key] = t

    by_symbol: dict[str, dict[datetime, dict]] = {}
    for (sym, ts), t in state.items():
        by_symbol.setdefault(sym, {})[ts] = t

    out: dict[tuple[str, str], dict] = {}
    for sym, secs in by_symbol.items():
        for b in sorted(secs):
            members = [secs.get(b + timedelta(seconds=k)) for k in range(5)]
            if any(m is None for m in members):
                continue  # exactly-5 gate
            nz = [m for m in members if m["size_per_sec"] != 0]
            s = sum(m["vwap_price_per_sec"] for m in nz)
            c = len(nz)
            out[(sym, b.isoformat())] = {
                "sum_of_vwap": s if c else 0.0,
                "count_of_vwap": c,
                "sma_value": (s / c) if c else 0.0,
                "window_data_count": 5,
                "real_data_count": sum(1 for m in members if m["real_or_filled"] == "real"),
                "filled_data_count": sum(
                    1 for m in members if m["real_or_filled"] != "real"
                ),
                "start": b.isoformat(),
                "end": (b + timedelta(seconds=4)).isoformat(),
            }
    return out
