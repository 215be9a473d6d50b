"""Payload-replay unit tests: JSONL fixtures (built from the reference's
docstring samples, FIXTURES.md §A) through each venue normalizer, asserted
against hand-computed goldens in the unified schema."""

import json
from datetime import datetime, timezone
from pathlib import Path

import pytest

from liq_stream_spark.operators import (
    normalize_aster,
    normalize_binance,
    normalize_bybit,
    normalize_hyperliquid,
    normalize_okx,
)
from liq_stream_spark.schema import SCHEMA_COLS
from liq_stream_spark.sources.replay import read_jsonl_frames

FIXTURES = Path(__file__).parent / "fixtures"
INGEST = 1_800_000_000_000


def rows_of(df):
    got = [r.asDict() for r in df.collect()]
    return sorted(got, key=lambda r: (r["symbol"], r["ts_exch_ms"] or 0, r["qty"] or 0))


def test_unified_schema_columns(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "binance_force_order.jsonl"), INGEST)
    out = normalize_binance(df)
    assert out.columns == SCHEMA_COLS
    types = dict(out.dtypes)
    assert types["qty"] == "double" and types["ts_exch_ms"] == "bigint"


def test_binance(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "binance_force_order.jsonl"), INGEST)
    got = rows_of(normalize_binance(df, market="usdt"))
    assert len(got) == 5
    by_sym = {r["symbol"]: r for r in got}

    btc = by_sym["BTCUSDT"]
    assert btc["exchange"] == "binance" and btc["market"] == "usdt"
    assert btc["side"] == "long"  # SELL closes longs
    assert btc["qty"] == 0.010 and btc["price"] == 61990.10
    assert btc["notional"] == 61990.10 * 0.010
    assert btc["ts_exch_ms"] == 1710000000000
    assert btc["ts_ingest_ms"] == INGEST
    raw = json.loads(btc["raw"])
    assert raw["o"]["s"] == "BTCUSDT" and raw["E"] == 1710000000000

    # array frame flattened (N1); ap="" falls back to p (N7); l/z="" -> q (N8)
    eth = by_sym["ETHUSDT"]
    assert eth["side"] == "short" and eth["price"] == 3001.25 and eth["qty"] == 1.5
    sol = by_sym["SOLUSDT"]
    assert sol["price"] == 150.0 and sol["qty"] == 10.0

    # missing E falls back to o.T (N9)
    assert by_sym["XRPUSDT"]["ts_exch_ms"] == 1710000003123
    # unknown order side -> NULL (N12)
    assert by_sym["ADAUSDT"]["side"] is None
    # dropped: empty o, missing o, "ping", non-JSON, unparsable qty
    assert "DOGEUSDT" not in by_sym


def test_aster_is_binance_shaped_forced_usdt(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "binance_force_order.jsonl"), INGEST)
    got = rows_of(normalize_aster(df, market="coin"))  # market arg ignored
    assert len(got) == 5
    assert all(r["exchange"] == "aster" and r["market"] == "usdt" for r in got)


def test_bybit(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "bybit_liquidation.jsonl"), INGEST)
    got = rows_of(normalize_bybit(df, market="usdt"))
    assert len(got) == 8

    rose = next(r for r in got if r["symbol"] == "ROSEUSDT")
    assert rose["side"] == "long" and rose["qty"] == 20000.0
    assert rose["notional"] == 0.04499 * 20000.0
    assert rose["ts_exch_ms"] == 1739502302929

    # new-schema unknown side -> "" not NULL (N13)
    hold = next(r for r in got if r["symbol"] == "BTCUSDT" and r["qty"] == 0.1)
    assert hold["side"] == ""

    # legacy dict: µs -> ms (N10)
    leg = next(r for r in got if r["symbol"] == "BTCUSDT" and r["qty"] == 0.01)
    assert leg["side"] == "short" and leg["ts_exch_ms"] == 1739502302929
    assert json.loads(leg["raw"])["updatedTimeE6"] == "1739502302929000"

    # legacy list: truncating µs division; frame-ts fallback
    e1 = next(r for r in got if r["symbol"] == "ETHUSDT" and r["qty"] == 2.0)
    assert e1["ts_exch_ms"] == 1739502304111
    e2 = next(r for r in got if r["symbol"] == "ETHUSDT" and r["qty"] == 3.0)
    assert e2["ts_exch_ms"] == 1739502304000

    # v="" -> qty 0.0, notional 0.0 (never NULL for bybit)
    zero = next(r for r in got if r["symbol"] == "ZEROUSDT")
    assert zero["qty"] == 0.0 and zero["notional"] == 0.0
    # unparsable size -> _to_float 0.0, row KEPT (unlike binance)
    bad = next(r for r in got if r["symbol"] == "BADUSDT")
    assert bad["qty"] == 0.0 and bad["price"] == 2.5 and bad["notional"] == 0.0

    assert all(r["symbol"] != "NOTOPIC" for r in got)


def test_bybit_legacy_channel_replay(spark):
    """Dedicated legacy liquidation.<SYM> replay fixture: dict-vs-list data
    arms, µs→ms truncation, numeric updatedTimeE6, frame-ts fallback when
    absent, drop when present-but-unparsable, unknown side -> "",
    unparsable size -> 0.0 row kept (bybit_adapter.py:145-170,200-206)."""
    df = read_jsonl_frames(spark, str(FIXTURES / "bybit_legacy.jsonl"), INGEST)
    got = rows_of(normalize_bybit(df, market="usdt"))
    by_sym = {r["symbol"]: r for r in got}
    assert set(by_sym) == {"BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT"}
    assert len(got) == 5  # ETHUSDT twice (list arm)

    # dict arm, µs string -> ms
    assert by_sym["BTCUSDT"]["ts_exch_ms"] == 1739502302929
    assert by_sym["BTCUSDT"]["side"] == "short" and by_sym["BTCUSDT"]["qty"] == 0.02
    # list arm: truncating µs division + frame-ts fallback for missing field
    eth = sorted(
        (r for r in got if r["symbol"] == "ETHUSDT"), key=lambda r: r["qty"]
    )
    assert eth[0]["ts_exch_ms"] == 1739502304111  # 1739502304111222 // 1000
    assert eth[1]["ts_exch_ms"] == 1739502304000  # frame ts
    # BADTSUSDT: updatedTimeE6 present but unparsable -> row DROPPED
    assert "BADTSUSDT" not in by_sym
    # numeric (non-string) updatedTimeE6; unknown side -> "" not NULL
    assert by_sym["SOLUSDT"]["ts_exch_ms"] == 1739502305000
    assert by_sym["SOLUSDT"]["side"] == ""
    # unparsable size -> 0.0, row kept, notional 0.0
    assert by_sym["XRPUSDT"]["qty"] == 0.0 and by_sym["XRPUSDT"]["notional"] == 0.0
    assert by_sym["XRPUSDT"]["ts_exch_ms"] == 1739502308500


def test_bybit_market_case_and_legacy_bad_ts(spark):
    # market arg is case-insensitive like the reference's (market or "").lower()
    df = read_jsonl_frames(spark, str(FIXTURES / "bybit_liquidation.jsonl"), INGEST)
    got = rows_of(normalize_bybit(df, market="COIN"))
    assert got and all(r["market"] == "coin" for r in got)

    # legacy row with present-but-unparsable updatedTimeE6 is DROPPED
    # (int() raises, caught per-row — no frame-ts fallback)
    bad = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "topic": "liquidation.FOOUSDT",
                        "ts": 1739502309000,
                        "data": {
                            "updatedTimeE6": "not-a-number",
                            "symbol": "FOOUSDT",
                            "side": "Buy",
                            "size": "1",
                            "price": "10",
                        },
                    }
                ),
                INGEST,
            )
        ],
        "value string, ts_ingest_ms long",
    )
    assert normalize_bybit(bad).count() == 0


def test_case_sensitive_conf_restored(spark):
    # normalizers must not leave spark.sql.caseSensitive flipped on a
    # caller session that had it off
    prev = spark.conf.get("spark.sql.caseSensitive")
    try:
        spark.conf.set("spark.sql.caseSensitive", "false")
        df = read_jsonl_frames(
            spark, str(FIXTURES / "binance_force_order.jsonl"), INGEST
        )
        out = normalize_binance(df)
        assert spark.conf.get("spark.sql.caseSensitive") == "false"
        assert out.count() == 5  # plan built under case-sensitive analysis
        df2 = read_jsonl_frames(
            spark, str(FIXTURES / "bybit_liquidation.jsonl"), INGEST
        )
        out2 = normalize_bybit(df2)
        assert spark.conf.get("spark.sql.caseSensitive") == "false"
        assert out2.count() == 8
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)


def test_okx_usdt_and_coin_market_filter(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "okx_liquidation_orders.jsonl"), INGEST)
    got = rows_of(normalize_okx(df, market="usdt"))
    assert [r["symbol"] for r in got] == [
        "BTC-USDT-SWAP",
        "ETH-USDT-SWAP",
        "ETH-USDT-SWAP",
        "SOL-USDC-SWAP",
    ]

    btc = got[0]
    assert btc["side"] == "long" and btc["price"] == 61790.5 and btc["qty"] == 2.0
    assert btc["ts_exch_ms"] == 1710000000123
    assert json.loads(btc["raw"]) == {
        "posSide": "long", "side": "sell", "bkPx": "61800.0",
        "fillPx": "61790.5", "sz": "2", "ts": "1710000000123",
    }

    # fillPx="" -> bkPx (N7)
    e1 = next(r for r in got if r["symbol"] == "ETH-USDT-SWAP" and r["qty"] == 5.0)
    assert e1["price"] == 3000.0 and e1["side"] == "short"
    # posSide not in {long,short} -> ""; ts="" -> NULL (Python truthiness)
    e2 = next(r for r in got if r["symbol"] == "ETH-USDT-SWAP" and r["qty"] == 1.0)
    assert e2["side"] == "" and e2["ts_exch_ms"] is None

    coin = rows_of(normalize_okx(df, market="coin"))
    assert [r["symbol"] for r in coin] == ["BTC-USD-SWAP"]


def test_hyperliquid(spark):
    df = read_jsonl_frames(spark, str(FIXTURES / "hyperliquid_fills.jsonl"), INGEST)
    got = rows_of(normalize_hyperliquid(df))
    syms = sorted(r["symbol"] for r in got)
    assert syms == ["APTUSDC", "AVAXUSDC", "BTCUSDC", "DOGEUSDC", "ETHUSDC", "SOLUSDC"]
    by_sym = {r["symbol"]: r for r in got}

    btc = by_sym["BTCUSDC"]  # deduped: tid|user|coin ring (ST1)
    assert btc["exchange"] == "hyperliquid" and btc["market"] == "usdc"
    assert btc["side"] == "long" and btc["qty"] == 0.5  # abs(-0.5) (N17)
    assert btc["price"] == 62000.1 and btc["ts_exch_ms"] == 1758630896789
    raw = json.loads(btc["raw"])
    assert raw["liq_kind"] == "Long" and raw["liq_user"] == "0xabc"
    assert raw["tid"] == 1 and raw["block_number"] == 123456

    # taker != liquidatedUser dropped (F2); dir="" side=B -> short (N15)
    eth = by_sym["ETHUSDC"]
    assert eth["side"] == "short" and eth["qty"] == 1.25
    # seconds-scale block_time -> ms (N11)
    assert eth["ts_exch_ms"] == 1758630897000

    # missing block_time -> ISO local_time arm of the heuristic
    sol = by_sym["SOLUSDC"]
    expect = int(
        datetime(2025, 9, 23, 12, 34, 56, 789000, tzinfo=timezone.utc).timestamp() * 1000
    )
    assert sol["ts_exch_ms"] == expect
    # px="" -> 0.0 -> notional NULL (N16)
    assert sol["price"] == 0.0 and sol["notional"] is None and sol["qty"] == 2.0

    # dir/side unclassifiable -> kind Unknown -> side NULL
    assert by_sym["AVAXUSDC"]["side"] is None
    # no 'close' hint, side B -> short
    assert by_sym["DOGEUSDC"]["side"] == "short"
    # sz=0 kept at min_abs_sz=0; notional NULL since qty falsy
    apt = by_sym["APTUSDC"]
    assert apt["qty"] == 0.0 and apt["notional"] is None

    # min-size threshold (F3)
    thresh = rows_of(normalize_hyperliquid(df, min_abs_sz=1.0))
    assert sorted(r["symbol"] for r in thresh) == [
        "AVAXUSDC", "DOGEUSDC", "ETHUSDC", "SOLUSDC",
    ]


# Malformed and boundary wire variants per venue (tests/fixtures/edge/*.jsonl)
# and their expected rows, recorded from the normalizers as they stood
# before the parse-once rewrite; every variant must keep those exact rows.
EDGE = FIXTURES / "edge"
EDGE_CASES = {
    "binance_usdt": ("binance", normalize_binance, {"market": "usdt"}),
    "binance_coin": ("binance", normalize_binance, {"market": "coin"}),
    "aster": ("binance", normalize_aster, {}),
    "bybit_usdt": ("bybit", normalize_bybit, {"market": "usdt"}),
    "bybit_coin": ("bybit", normalize_bybit, {"market": "coin"}),
    "okx_usdt": ("okx", normalize_okx, {"market": "usdt"}),
    "okx_coin": ("okx", normalize_okx, {"market": "coin"}),
    "hyperliquid": ("hyperliquid", normalize_hyperliquid, {}),
    "hyperliquid_nodedup_key": (
        "hyperliquid",
        normalize_hyperliquid,
        {"dedup": False, "keep_dedup_key": True},
    ),
    "hyperliquid_min1": ("hyperliquid", normalize_hyperliquid, {"min_abs_sz": 1.0}),
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_edge_variants_match_pins(spark, case):
    venue, fn, kw = EDGE_CASES[case]
    frames = read_jsonl_frames(spark, str(EDGE / f"{venue}.jsonl"), INGEST)
    got = [r.asDict() for r in fn(frames, **kw).collect()]
    expected = json.loads((EDGE / "expected.json").read_text())[case]

    def key(r):
        return json.dumps(r, sort_keys=True)

    assert sorted(got, key=key) == sorted(expected, key=key)


# Wire levels each normalizer parses: Binance/Aster the frame; OKX the frame
# (data[] and details[] are typed inside it); Bybit the frame, then its data
# text; Hyperliquid the line, each [taker, fill] pair, each fill.
PARSE_LEVELS = [
    ("binance", normalize_binance, "binance_force_order.jsonl", {}, 1),
    ("aster", normalize_aster, "binance_force_order.jsonl", {}, 1),
    ("okx", normalize_okx, "okx_liquidation_orders.jsonl", {}, 1),
    ("bybit", normalize_bybit, "bybit_liquidation.jsonl", {}, 2),
    ("hyperliquid", normalize_hyperliquid, "hyperliquid_fills.jsonl", {}, 3),
    (
        "hyperliquid_stream",
        normalize_hyperliquid,
        "hyperliquid_fills.jsonl",
        {"dedup": False, "keep_dedup_key": True},
        3,
    ),
]


@pytest.mark.parametrize(
    "fn, fixture, kw, levels",
    [p[1:] for p in PARSE_LEVELS],
    ids=[p[0] for p in PARSE_LEVELS],
)
def test_each_wire_level_parsed_once(spark, fn, fixture, kw, levels):
    """A predicate on a parsed field that Catalyst can push below the
    projection computing the parse gets a copy of the whole parse. The
    executed plan must hold one from_json per wire level, no
    get_json_object re-parse, and one scan of the input."""
    frames = read_jsonl_frames(spark, str(FIXTURES / fixture), INGEST)
    plan = fn(frames, **kw)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == levels, plan
    assert "get_json_object(" not in plan, plan
    assert plan.count("FileScan") == 1, plan
