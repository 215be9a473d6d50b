"""OKX liquidation-orders normalizer.

Reference semantics (okx_adapter.py:43-107):
- keep frames whose ``arg.channel == "liquidation-orders"``
- two-level flatten: ``data[]`` per instrument × ``details[]`` per fill (N2)
- market filter on instId suffix: usdt → ``-USDT-SWAP``/``-USDC-SWAP``,
  coin → ``-USD-SWAP`` (F1, okx_adapter.py:15-21)
- side: posSide kept iff in {long, short} else "" (N14)
- price: ``float(fillPx or bkPx or 0.0)`` (N7); qty: ``float(sz or 0.0)``
- notional: NULL unless both truthy (N16)
- ts: ``int(d["ts"]) if d.get("ts")`` — Python truthiness, so "" → NULL (N6)
- raw: the detail object only (N21, okx_adapter.py:103)

Parse once: one ``from_json`` types the frame down to the details, and the
channel test sits in the first ``explode``'s argument, so no predicate
above it can copy the parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from liq_stream_spark.functions import (
    notional,
    now_ms,
    side_from_okx,
    truthy_coalesce,
)
from liq_stream_spark.schema import OKX_FRAME_SCHEMA


def normalize_okx(frames: DataFrame, market: str = "usdt") -> DataFrame:
    # lowercase like every adapter in the reference (okx_adapter.py:28
    # `(market or "").lower()`); the accepted aliases and the VERBATIM
    # market label in the output ("coinm"/"inverse" are not folded to
    # "coin") are reference parity — okx_adapter.py:95 emits self.market
    # as passed
    market = (market or "").lower()
    if market not in ("usdt", "coin", "coinm", "inverse"):
        raise ValueError(f"Unknown OKX market: {market}")

    if "ts_ingest_ms" not in frames.columns:
        frames = frames.withColumn("ts_ingest_ms", now_ms())

    # explode(NULL) yields no rows: unparsable frames, other channels and a
    # NULL data need no filter. The channel test lives in the generator's
    # argument, so no predicate can copy the parse.
    f = F.col("f")
    inst = frames.select(
        F.from_json("value", OKX_FRAME_SCHEMA).alias("f"), "ts_ingest_ms"
    ).select(
        F.explode(F.when(f["arg"]["channel"] == "liquidation-orders", f["data"])).alias(
            "liq"
        ),
        "ts_ingest_ms",
    )

    inst_id = F.coalesce(F.col("liq.instId"), F.lit(""))
    if market == "usdt":
        keep = inst_id.endswith("-USDT-SWAP") | inst_id.endswith("-USDC-SWAP")
    else:
        keep = inst_id.endswith("-USD-SWAP")

    details = (
        inst.filter(keep)
        .select(
            inst_id.alias("instId"),
            F.explode(F.col("liq.details")).alias("d"),
            "ts_ingest_ms",
        )
    )

    d = F.col("d")
    price_raw = truthy_coalesce(d["fillPx"], d["bkPx"], F.lit("0.0"))
    price = price_raw.try_cast("double")
    qty = truthy_coalesce(d["sz"], F.lit("0.0")).try_cast("double")

    out = details.select(
        F.lit("okx").alias("exchange"),
        F.lit(market).alias("market"),
        F.col("instId").alias("symbol"),
        side_from_okx(d["posSide"]).alias("side"),
        qty.alias("qty"),
        price.alias("price"),
        notional(price, qty).alias("notional"),
        truthy_coalesce(d["ts"]).try_cast("long").alias("ts_exch_ms"),
        F.col("ts_ingest_ms"),
        F.to_json(d).alias("raw"),
    )
    # float()/int() raising aborts the frame in the reference's whole-message
    # try/except (okx_adapter.py:106-107); per-row drop is the batch analogue.
    return out.filter(F.col("price").isNotNull() & F.col("qty").isNotNull())
