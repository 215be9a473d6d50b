"""Schemas: the unified liquidation row plus every venue wire format.

The unified 10-column schema mirrors the reference's CSV/Postgres layout
(reference: writer_csv.py:7-10, writer_pg.py:23-36, README.md:76-107).
Venue payload StructTypes are hand-declared from the reference's docstring
samples (the de-facto golden inputs — SURVEY.md §5):

- Binance/Aster forceOrder : binance_adapter.py:43-57, aster_adapter.py:38-52
- Bybit new + legacy       : bybit_adapter.py:174-182
- OKX liquidation-orders   : okx_adapter.py:44-57
- Hyperliquid node fills   : hyperliquid_adapter.py:108-125
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Unified output schema (reference: writer_pg.py:23-36)
# ---------------------------------------------------------------------------

SCHEMA_COLS = [
    "exchange",
    "market",
    "symbol",
    "side",
    "qty",
    "price",
    "notional",
    "ts_exch_ms",
    "ts_ingest_ms",
    "raw",
]

LIQUIDATIONS_SCHEMA = T.StructType(
    [
        T.StructField("exchange", T.StringType(), False),
        T.StructField("market", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("side", T.StringType(), True),
        T.StructField("qty", T.DoubleType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("notional", T.DoubleType(), True),
        T.StructField("ts_exch_ms", T.LongType(), True),
        T.StructField("ts_ingest_ms", T.LongType(), True),
        T.StructField("raw", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Binance / Aster forceOrder event (numeric wire values are strings)
# (reference: binance_adapter.py:43-57; Aster is byte-identical in shape)
# ---------------------------------------------------------------------------

BINANCE_ORDER_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),   # symbol
        T.StructField("S", T.StringType()),   # order side BUY/SELL
        T.StructField("o", T.StringType()),   # order type
        T.StructField("f", T.StringType()),   # time in force
        T.StructField("q", T.StringType()),   # original qty
        T.StructField("p", T.StringType()),   # price
        T.StructField("ap", T.StringType()),  # average fill price
        T.StructField("X", T.StringType()),   # order status
        T.StructField("l", T.StringType()),   # last filled qty
        T.StructField("z", T.StringType()),   # cumulative filled qty
        T.StructField("T", T.LongType()),     # order trade time (ms)
    ]
)

BINANCE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("e", T.StringType()),   # event type "forceOrder"
        T.StructField("E", T.LongType()),     # event time (ms)
        T.StructField("o", BINANCE_ORDER_SCHEMA),
    ]
)

# ---------------------------------------------------------------------------
# Bybit frames (reference: bybit_adapter.py:174-182)
# New channel:    {"topic":"allLiquidation.X","ts":ms,"data":[{T,s,S,v,p}]}
# Legacy channel: {"topic":"liquidation.X","ts":ms,"data":{updatedTimeE6,symbol,side,size,price}}
# `data` is list-of-compact-rows (new) or dict-or-list (legacy). The frame is
# parsed once with `data` kept as its JSON text; the text is parsed once
# as an array of rows carrying both channels' fields (a dict parses as a
# one-element array), and the topic decides which fields a row uses.
# ---------------------------------------------------------------------------

BYBIT_NEW_ROW_SCHEMA = T.StructType(
    [
        T.StructField("T", T.LongType()),     # event ms
        T.StructField("s", T.StringType()),   # symbol
        T.StructField("S", T.StringType()),   # Buy/Sell
        T.StructField("v", T.StringType()),   # size
        T.StructField("p", T.StringType()),   # price
    ]
)

BYBIT_LEGACY_ROW_SCHEMA = T.StructType(
    [
        T.StructField("updatedTimeE6", T.StringType()),  # microseconds
        T.StructField("symbol", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("size", T.StringType()),
        T.StructField("price", T.StringType()),
    ]
)

BYBIT_ROW_SCHEMA = T.StructType(
    BYBIT_NEW_ROW_SCHEMA.fields + BYBIT_LEGACY_ROW_SCHEMA.fields
)

BYBIT_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("data", T.StringType()),  # raw JSON, parsed per topic
    ]
)

# ---------------------------------------------------------------------------
# OKX liquidation-orders (reference: okx_adapter.py:44-57)
# ---------------------------------------------------------------------------

OKX_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("posSide", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("bkPx", T.StringType()),
        T.StructField("fillPx", T.StringType()),
        T.StructField("sz", T.StringType()),
        T.StructField("ts", T.StringType()),
    ]
)

OKX_FRAME_SCHEMA = T.StructType(
    [
        T.StructField(
            "arg",
            T.StructType(
                [
                    T.StructField("channel", T.StringType()),
                    T.StructField("instType", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("instType", T.StringType()),
                        T.StructField("instId", T.StringType()),
                        T.StructField("details", T.ArrayType(OKX_DETAIL_SCHEMA)),
                    ]
                )
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Hyperliquid node fill lines (reference: hyperliquid_adapter.py:108-125)
# events is an array of [taker_address, fill] pairs. JSON arrays with mixed
# element types can't be a typed Spark array, so events elements are kept as
# raw JSON text; each pair is parsed once as array<string> (taker = element
# 1, fill = element 2) and each fill once as HL_FILL_SCHEMA.
# ---------------------------------------------------------------------------

HL_LIQUIDATION_SCHEMA = T.StructType(
    [
        T.StructField("liquidatedUser", T.StringType()),
        T.StructField("markPx", T.StringType()),
        T.StructField("method", T.StringType()),
    ]
)

HL_FILL_SCHEMA = T.StructType(
    [
        T.StructField("coin", T.StringType()),
        T.StructField("px", T.StringType()),
        T.StructField("sz", T.StringType()),
        T.StructField("dir", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("fee", T.StringType()),
        T.StructField("feeToken", T.StringType()),
        T.StructField("hash", T.StringType()),
        T.StructField("tid", T.LongType()),
        T.StructField("liquidation", HL_LIQUIDATION_SCHEMA),
    ]
)

HL_LINE_SCHEMA = T.StructType(
    [
        T.StructField("local_time", T.StringType()),
        T.StructField("block_time", T.StringType()),   # numeric-or-ISO; parsed by to_ms heuristic
        T.StructField("block_number", T.LongType()),
        T.StructField("events", T.ArrayType(T.StringType())),  # raw JSON per pair
    ]
)

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
