"""Binance forceOrder normalizer — pure DataFrame transform.

Reference semantics (binance_adapter.py:41-94):
- a frame is one event object or an array of events (flatten, N1)
- skip events with no/empty ``o`` (``if not o: continue``)
- event time: ``E`` else ``o.T`` (plain null-coalesce, N9)
- price: ``float(o.ap or o.p or 0.0)`` (Python truthiness over strings, N7)
- qty:   ``float(o.l or o.z or o.q or 0.0)`` (N8)
- side:  order side BUY→short, SELL→long, else NULL (N12)
- notional: ``price*qty if price and qty else None`` (N16)
- any normalization error (e.g. unparsable float) skips that event only
  (binance_adapter.py:93-94) — here: try_cast NULL on a chosen value → drop

Parse once: the frame's ``from_json`` is the ``explode`` argument, so every
predicate on an event stays above the generator and never re-runs it.

Deviation (documented): ``raw`` is ``to_json`` of the *typed* event struct —
compact like ``json.dumps(...,separators=(",",":"))`` but with schema field
order and without unknown wire keys.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from liq_stream_spark.functions import (
    notional,
    now_ms,
    side_from_order_side,
    truthy_coalesce,
)
from liq_stream_spark.schema import BINANCE_EVENT_SCHEMA, BINANCE_ORDER_SCHEMA
from liq_stream_spark.session import case_sensitive_analysis


def normalize_binance(
    frames: DataFrame,
    market: str = "usdt",
    exchange: str = "binance",
) -> DataFrame:
    """frames: ``value string`` (one wire frame per row), optional
    ``ts_ingest_ms long``. Returns the unified liquidation schema."""
    # market aliases as the reference's _market_label (binance_adapter.py:25-31)
    m = (market or "").lower()
    if m == "usdt":
        market = "usdt"
    elif m in ("coin", "coinm", "inverse"):
        market = "coin"
    else:
        raise ValueError(f"Unknown Binance market: {market}")

    # wire keys are case-significant ("s" symbol vs "S" side) — resolve the
    # struct-field references under caseSensitive=true, restoring the
    # caller's setting afterwards (analysis is eager, execution is not
    # affected by the conf).
    with case_sensitive_analysis(frames.sparkSession):
        if "ts_ingest_ms" not in frames.columns:
            frames = frames.withColumn("ts_ingest_ms", now_ms())

        # N1: single-object frames parse as a 1-element array under ArrayType;
        # non-JSON frames ("ping", garbage) parse to NULL, and explode(NULL)
        # yields no rows (F5). The parse is the generator's argument, so the
        # predicates below stay above it and never re-run it.
        events = frames.select(
            F.explode(F.from_json("value", T.ArrayType(BINANCE_EVENT_SCHEMA))).alias(
                "ev"
            ),
            "ts_ingest_ms",
        )

        o = F.col("ev.o")
        # `if not o: continue` — a missing o and {} (the empty dict is falsy)
        # both parse to an o without a single non-NULL field
        has_field = (o[f].isNotNull() for f in BINANCE_ORDER_SCHEMA.names)
        events = events.filter(reduce(operator.or_, has_field))

        price_raw = truthy_coalesce(o["ap"], o["p"], F.lit("0.0"))
        qty_raw = truthy_coalesce(o["l"], o["z"], o["q"], F.lit("0.0"))
        price = price_raw.try_cast("double")
        qty = qty_raw.try_cast("double")

        out = events.select(
            F.lit(exchange).alias("exchange"),
            F.lit(market).alias("market"),
            F.coalesce(o["s"], F.lit("")).alias("symbol"),
            side_from_order_side(o["S"]).alias("side"),
            qty.alias("qty"),
            price.alias("price"),
            notional(price, qty).alias("notional"),
            F.coalesce(F.col("ev.E"), o["T"]).alias("ts_exch_ms"),
            F.col("ts_ingest_ms"),
            F.to_json(F.col("ev")).alias("raw"),
        )
        # float() raising inside the per-event try/except skips the event
        # (binance_adapter.py:93-94). The truthy chain ends in "0.0", so the
        # only way price/qty is NULL post-cast is an unparsable wire value.
        return out.filter(F.col("price").isNotNull() & F.col("qty").isNotNull())
