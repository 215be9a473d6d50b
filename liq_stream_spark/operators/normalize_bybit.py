"""Bybit liquidation normalizer — handles both wire schemas.

Reference semantics (bybit_adapter.py:145-227):
- topic dispatch (F6): ``allLiquidation.<SYM>`` → data is a list of compact
  rows {T,s,S,v,p}; legacy ``liquidation.<SYM>`` → data is a dict OR a list
  of {updatedTimeE6,symbol,side,size,price}; topicless frames dropped
- symbol: ``s`` else ``symbol`` else "" (truthy, N4)
- side: lowercase buy→short / sell→long, else "" — empty string, not NULL
  (N13, bybit_adapter.py:191-192)
- qty/price: ``_to_float(... or 0)`` — parse failure yields 0.0, row is KEPT
  (bybit_adapter.py:17-21), unlike binance's skip
- notional: price*qty if both truthy else 0.0 — never NULL
  (bybit_adapter.py:197)
- ts: ``T`` (new, ms) else ``updatedTimeE6/1000`` (legacy, µs→ms, N10) else
  frame ``ts``

Parse once, in one scan: the frame is parsed with ``data`` kept as its JSON
text, and that text is parsed once as an array of rows carrying both
channels' fields; the topic decides which fields a row reads and which
schema its ``raw`` is serialized with. The row parse is the ``explode``
argument, so no predicate can copy either parse.

Deviation (documented): a frame whose ``data`` is a JSON *string* that
itself holds JSON is read as that JSON; the reference skips it (a str has
no ``.get``). No venue sends double-encoded data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from liq_stream_spark.functions import (
    now_ms,
    side_from_bybit,
    truthy_coalesce,
    truthy_double,
)
from liq_stream_spark.session import case_sensitive_analysis
from liq_stream_spark.schema import (
    BYBIT_FRAME_SCHEMA,
    BYBIT_LEGACY_ROW_SCHEMA,
    BYBIT_NEW_ROW_SCHEMA,
    BYBIT_ROW_SCHEMA,
)


def normalize_bybit(frames: DataFrame, market: str = "usdt") -> DataFrame:
    # reference lowercases the market label ((market or "").lower(),
    # bybit_adapter.py:50) — accept any case like normalize_binance does
    market = (market or "").lower()
    if market == "usdt":
        mk = "usdt"
    elif market in ("coin", "coinm", "inverse"):
        mk = market  # reference stores self.market verbatim (lowercased)
    else:
        raise ValueError(f"Unknown Bybit market: {market}")

    # "s"/"S" and "T" wire keys need case-sensitive resolution; restore the
    # caller's setting after the plan is analyzed (session.py helper).
    with case_sensitive_analysis(frames.sparkSession):
        return _build(frames, mk)


def _build(frames: DataFrame, mk: str) -> DataFrame:
    if "ts_ingest_ms" not in frames.columns:
        frames = frames.withColumn("ts_ingest_ms", now_ms())

    # Topicless, other-topic and unparsable frames parse no rows, and
    # explode(NULL) yields none: no filter of their own.
    f = F.col("f")
    topic, data = f["topic"], f["data"]
    is_new = topic.startswith("allLiquidation.")
    # new channel: data must be a list; legacy: a dict or a list — a dict
    # parses as a one-element array (bybit_adapter.py:165-169)
    rows_json = F.when(
        (is_new & data.startswith("[")) | topic.startswith("liquidation."), data
    )
    rows = frames.select(
        F.from_json("value", BYBIT_FRAME_SCHEMA).alias("f"), "ts_ingest_ms"
    ).select(
        f["ts"].alias("msg_ts"),
        is_new.alias("is_new"),
        F.explode(F.from_json(rows_json, T.ArrayType(BYBIT_ROW_SCHEMA))).alias(
            "liq"
        ),
        "ts_ingest_ms",
    )

    liq, new = F.col("liq"), F.col("is_new")

    def new_f(name):
        return F.when(new, liq[name])

    def legacy_f(name):
        return F.when(~new, liq[name])

    def raw(schema):
        # compact JSON of the row as its channel's schema types it
        return F.to_json(
            F.when(liq.isNotNull(), F.struct(*[liq[c] for c in schema.names]))
        )

    # Reference parity: when updatedTimeE6 is *present* but unparsable,
    # ``int(liq["updatedTimeE6"])`` raises and the whole row is dropped
    # (bybit_adapter.py:203-204, caught at :226) — it does NOT fall through
    # to the frame ts. Only the legacy channel carries it.
    u_e6 = legacy_f("updatedTimeE6")
    rows = rows.filter(
        # a NULL element of a new-channel list is kept as an empty row; the
        # legacy channel skips it
        (new | liq.isNotNull())
        & ~(u_e6.isNotNull() & u_e6.try_cast("long").isNull())
    )

    # _to_float(x or 0): truthy-coalesce then cast; failure → 0.0, row kept
    qty = F.coalesce(
        truthy_double(new_f("v"), legacy_f("size"), F.lit("0")), F.lit(0.0)
    )
    price = F.coalesce(
        truthy_double(new_f("p"), legacy_f("price"), F.lit("0")), F.lit(0.0)
    )
    # µs→ms: int(int(u)/1000) truncates toward zero; timestamps are positive
    # so integer division matches (N10).
    ts_exch = F.coalesce(
        new_f("T"),
        (u_e6.try_cast("long") / 1000).cast("long"),
        F.col("msg_ts"),
    )

    return rows.select(
        F.lit("bybit").alias("exchange"),
        F.lit(mk).alias("market"),
        F.coalesce(
            truthy_coalesce(new_f("s"), legacy_f("symbol")), F.lit("")
        ).alias("symbol"),
        side_from_bybit(truthy_coalesce(new_f("S"), legacy_f("side"))).alias("side"),
        qty.alias("qty"),
        price.alias("price"),
        F.when((price != 0.0) & (qty != 0.0), price * qty)
        .otherwise(F.lit(0.0))
        .alias("notional"),
        ts_exch.alias("ts_exch_ms"),
        F.col("ts_ingest_ms"),
        F.when(new, raw(BYBIT_NEW_ROW_SCHEMA))
        .otherwise(raw(BYBIT_LEGACY_ROW_SCHEMA))
        .alias("raw"),
    )
