"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes
byte-identical files and returns the same expected counts. The engine
never sees the seed, only the files.

- ``write_backlog``: a multi-venue liquidation backlog in each venue's wire
  format (five venues, both Bybit schemas, OKX frames with ``-USD-SWAP``
  rows the usdt mode filters out, Hyperliquid hour files with re-emitted
  duplicate fills and non-liquidation fills, plus ping and malformed lines).
  It returns the ground truth the sinks are checked against.
"""

from __future__ import annotations

import json
import math
import os
import random

# Stream pairs the ingest workload drains (exchange, market) and the
# directory each one is read from, relative to the backlog root.
STREAMS = [
    ("binance", "usdt"),
    ("bybit", "usdt"),
    ("okx", "usdt"),
    ("aster", "usdt"),
    ("hyperliquid", "usdc"),
]
SOURCE_DIRS = {ex: ex for ex, _ in STREAMS}

FILES_PER_VENUE = 8
BASE_MS = 1_760_000_000_000  # 2025-10-09T08:53:20Z
_COINS = ["BTC", "ETH", "SOL", "XRP", "DOGE", "ADA", "AVAX", "LINK"]
_J = dict(separators=(",", ":"))


def _price(rng: random.Random) -> str:
    return f"{rng.randint(100, 9_999_999) / 100:.2f}"


def _qty(rng: random.Random) -> str:
    return f"{rng.randint(1, 50_000) / 1000:.3f}"


class _Truth:
    """Expected sink contents for one venue."""

    def __init__(self) -> None:
        self.rows = 0
        self.notional: list[float] = []
        self.events_in = 0  # wire events offered, kept or not
        self.duplicates = 0  # re-emitted fills the dedup must drop

    def keep(self, price: str, qty: str) -> None:
        self.rows += 1
        self.events_in += 1
        self.notional.append(float(price) * abs(float(qty)))

    def as_dict(self) -> dict:
        return {
            "rows": self.rows,
            "notional_sum": math.fsum(self.notional),
            "events_in": self.events_in,
            "duplicates": self.duplicates,
        }


def _noise(rng: random.Random) -> str | None:
    """About 1 line in 100 is a ping or a truncated frame."""
    r = rng.random()
    if r < 0.005:
        return "ping"
    if r < 0.01:
        return '{"topic":"allLiquidation.BTCUSDT","data":[{"T":'
    return None


def _binance_lines(rng, n_events, truth, clock):
    lines = []
    while truth.rows < n_events:
        if noise := _noise(rng):
            lines.append(noise)
            continue
        k = 1 if rng.random() < 0.6 else rng.randint(2, 5)
        evs = []
        for _ in range(min(k, n_events - truth.rows)):
            ts = next(clock)
            p, q = _price(rng), _qty(rng)
            evs.append({
                "e": "forceOrder", "E": ts,
                "o": {"s": rng.choice(_COINS) + "USDT",
                      "S": rng.choice(["BUY", "SELL"]), "o": "LIMIT",
                      "f": "IOC", "q": q, "p": p, "ap": p, "X": "FILLED",
                      "l": q, "z": q, "T": ts},
            })
            truth.keep(p, q)
        lines.append(json.dumps(evs[0] if k == 1 else evs, **_J))
    return lines


def _bybit_lines(rng, n_events, truth, clock):
    lines = []
    while truth.rows < n_events:
        if noise := _noise(rng):
            lines.append(noise)
            continue
        coin = rng.choice(_COINS) + "USDT"
        ts = next(clock)
        if rng.random() < 0.7:  # current allLiquidation schema
            rows = []
            for _ in range(min(rng.randint(1, 4), n_events - truth.rows)):
                p, q = _price(rng), _qty(rng)
                rows.append({"T": next(clock), "s": coin,
                             "S": rng.choice(["Buy", "Sell"]), "v": q, "p": p})
                truth.keep(p, q)
            frame = {"topic": f"allLiquidation.{coin}", "ts": ts, "data": rows}
        else:  # legacy liquidation schema: one dict
            p, q = _price(rng), _qty(rng)
            frame = {"topic": f"liquidation.{coin}", "ts": ts,
                     "data": {"updatedTimeE6": str(next(clock) * 1000),
                              "symbol": coin,
                              "side": rng.choice(["Buy", "Sell"]),
                              "size": q, "price": p}}
            truth.keep(p, q)
        lines.append(json.dumps(frame, **_J))
    return lines


def _okx_lines(rng, n_events, truth, clock):
    lines = []
    while truth.rows < n_events:
        if noise := _noise(rng):
            lines.append(noise)
            continue
        data = []
        for _ in range(rng.randint(1, 3)):
            coin_m = rng.random() < 0.25  # -USD-SWAP: dropped in usdt mode
            details = []
            for _ in range(rng.randint(1, 3)):
                if not coin_m and truth.rows >= n_events:
                    break
                p, q = _price(rng), str(rng.randint(1, 500))
                details.append({"posSide": rng.choice(["long", "short"]),
                                "side": rng.choice(["buy", "sell"]),
                                "bkPx": p, "fillPx": p, "sz": q,
                                "ts": str(next(clock))})
                if coin_m:
                    truth.events_in += 1
                else:
                    truth.keep(p, q)
            if details:
                suffix = "-USD-SWAP" if coin_m else "-USDT-SWAP"
                data.append({"instType": "SWAP",
                             "instId": rng.choice(_COINS) + suffix,
                             "details": details})
        frame = {"arg": {"channel": "liquidation-orders", "instType": "SWAP"},
                 "data": data}
        lines.append(json.dumps(frame, **_J))
    return lines


def _hl_lines(rng, n_events, truth, clock):
    """Node-fill lines: each liquidation appears as the liquidated user's
    fill (kept) plus the counterparty's fill (dropped: taker differs);
    some lines carry only non-liquidation fills, and about 5 % of kept
    fills are re-emitted later in a fresh line wrapper (dropped by the
    tid|user|coin dedup)."""
    lines, emitted = [], []
    block = 900_000
    tid = 0

    def line(pairs):
        nonlocal block
        block += 1
        bt = next(clock)
        return json.dumps({
            "local_time": f"2025-10-09T{(bt // 1000) % 86400 // 3600:02d}:"
                          f"00:00.{block % 1000:03d}Z",
            "block_time": bt, "block_number": block, "events": pairs}, **_J)

    while truth.rows < n_events:
        if noise := _noise(rng):
            lines.append(noise)
            continue
        r = rng.random()
        if r < 0.05 and emitted:
            lines.append(line([rng.choice(emitted)]))
            truth.duplicates += 1
            truth.events_in += 1
            continue
        if r < 0.15:  # ordinary trade fill, no liquidation object
            tid += 1
            fill = {"coin": rng.choice(_COINS), "px": _price(rng),
                    "sz": _qty(rng), "dir": "Open Long", "side": "B",
                    "fee": "0.1", "feeToken": "USDC", "hash": f"0x{tid:x}",
                    "tid": tid}
            lines.append(line([[f"0xu{rng.randint(0, 999)}", fill]]))
            truth.events_in += 1
            continue
        tid += 1
        user = f"0xu{rng.randint(0, 999)}"
        p, q = _price(rng), _qty(rng)
        long_side = rng.random() < 0.5
        fill = {"coin": rng.choice(_COINS), "px": p,
                "sz": ("-" if long_side else "") + q,
                "dir": "Close Long" if long_side else "Close Short",
                "side": "A" if long_side else "B", "fee": "0.5",
                "feeToken": "USDC", "hash": f"0x{tid:x}", "tid": tid,
                "liquidation": {"liquidatedUser": user, "markPx": p,
                                "method": "market"}}
        pair = [user, fill]
        lines.append(line([pair, ["0xcounterparty", fill]]))
        emitted.append(pair)
        truth.keep(p, q)
        truth.events_in += 1  # the counterparty's copy
    return lines


_VENUES = {
    "binance": _binance_lines,
    "aster": _binance_lines,
    "bybit": _bybit_lines,
    "okx": _okx_lines,
    "hyperliquid": _hl_lines,
}


def _clock(start: int):
    t = start
    while True:
        t += 7
        yield t


def write_backlog(root: str, seed: int, rows_per_venue: int) -> dict:
    """Write each venue's wire files under ``root/<venue>/`` (Hyperliquid:
    ``root/hyperliquid/<YYYYMMDD>/<hour>``) and return the ground truth
    ``{venue: {rows, notional_sum, events_in, duplicates}}``."""
    truth = {}
    for i, (venue, _market) in enumerate(STREAMS):
        rng = random.Random(f"{seed}:{venue}")
        t = _Truth()
        lines = _VENUES[venue](
            rng, rows_per_venue, t, _clock(BASE_MS + i * 10_000_000)
        )
        d = os.path.join(root, SOURCE_DIRS[venue])
        per = math.ceil(len(lines) / FILES_PER_VENUE)
        for f in range(FILES_PER_VENUE):
            if venue == "hyperliquid":
                path = os.path.join(d, "20251009", str(f))
            else:
                path = os.path.join(d, f"part-{f:03d}.jsonl")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
        truth[venue] = t.as_dict()
    return truth
