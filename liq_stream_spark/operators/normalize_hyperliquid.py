"""Hyperliquid node-fill normalizer.

Reference semantics (hyperliquid_adapter.py:166-257):
- cheap prefilter: skip lines lacking the substring "liquidation" before any
  JSON parse (F4, hyperliquid_adapter.py:266-267) — same parse-avoidance win
- each line: {local_time, block_time, block_number, events:[[taker, fill]…]}
- keep pairs of exactly [taker:string, fill:object]; fill must carry a
  ``liquidation`` object; keep only taker == liquidation.liquidatedUser (F2)
- qty = abs(float(sz)); drop unparsable or < min_abs_sz (F3, N17)
- dedup on tid|liq_user|coin, first occurrence wins (ST1 — batch variant
  here; streaming uses dropDuplicatesWithinWatermark)
- ts: _to_ms(block_time) or _to_ms(local_time) — numeric <1e12 is seconds,
  ≥1e12 ms, else ISO-8601 (N11); Python `or` so ms==0 falls through
- symbol = upper(coin)+"USDC" (N18); side from dir/side classify (N15)
- price = float(px or 0.0) → NULL on parse failure, row kept
- raw = compact JSON of the *enriched* dict (N21,
  hyperliquid_adapter.py:194-211,243)

Parse once per wire level (line, pair, fill — three ``from_json``, no
``get_json_object``). The events array is parsed as array<string> because
[taker, fill] is a mixed-type JSON tuple; one ``transform`` parses each pair
as array<string> and its fill as a struct, and that array is the argument of
the ``posexplode``. Every predicate on a parsed field therefore sits above the
``Generate``, where Catalyst cannot copy the parse into it.

Documented deviation: the enriched struct types block_time as long, so a
(rare) ISO-string block_time is omitted from ``raw``'s JSON while still
feeding ts_exch_ms via the string heuristic — the reference's raw would
keep the ISO string (a struct field cannot be number-or-string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from liq_stream_spark.functions import now_ms, side_from_hl, to_ms, truthy_coalesce
from liq_stream_spark.schema import HL_FILL_SCHEMA, HL_LINE_SCHEMA


def normalize_hyperliquid(
    frames: DataFrame,
    market: str = "usdc",
    min_abs_sz: float = 0.0,
    dedup: bool = True,
    keep_dedup_key: bool = False,
) -> DataFrame:
    """``keep_dedup_key`` appends a ``_dedup_key`` column (tid|user|coin)
    so the streaming pipeline can run the watermark-bounded ST1 dedup on
    the reference's actual key (streaming/pipeline.py); batch callers leave
    it off and get the unified schema exactly."""
    if "ts_ingest_ms" not in frames.columns:
        frames = frames.withColumn("ts_ingest_ms", now_ms())

    lines = frames.filter(F.col("value").contains("liquidation"))  # F4

    # posexplode(NULL) yields no rows: unparsable lines and missing events
    # need no filter of their own
    pairs = lines.select(
        F.from_json("value", HL_LINE_SCHEMA).alias("rec"), "ts_ingest_ms"
    ).select(
        F.col("rec.local_time").alias("local_time"),
        F.col("rec.block_time").alias("block_time"),
        F.col("rec.block_number").alias("block_number"),
        F.posexplode(
            F.transform(
                F.transform(
                    "rec.events", lambda p: F.from_json(p, T.ArrayType(T.StringType()))
                ),
                _taker_and_fill,
            )
        ).alias("ev_idx", "ev"),
        "ts_ingest_ms",
    )
    fills = pairs.select("*", "ev.taker", "ev.fill").drop("ev")

    liq = F.col("fill.liquidation")
    sz_abs = F.abs(F.col("fill.sz").try_cast("double"))
    fills = fills.filter(
        liq.isNotNull()  # F2: must be a liquidation fill (also drops bad pairs)
        & (F.col("taker") == liq["liquidatedUser"])  # F2: self-liquidation row
        & sz_abs.isNotNull()
        & (sz_abs >= F.lit(float(min_abs_sz)))  # F3
    )

    # The enriched event dict the reference builds at :194-211 — field order
    # preserved so raw's compact JSON matches json.dumps of that dict.
    enriched = F.struct(
        F.col("local_time").alias("local_time"),
        F.col("block_time").try_cast("long").alias("block_time"),
        F.col("block_number").alias("block_number"),
        F.col("fill.coin").alias("coin"),
        F.col("fill.px").alias("px"),
        F.col("fill.sz").alias("sz"),
        F.col("fill.dir").alias("dir"),
        F.col("fill.side").alias("side"),
        F.col("fill.fee").alias("fee"),
        F.col("fill.feeToken").alias("feeToken"),
        F.col("fill.hash").alias("hash"),
        F.col("fill.tid").alias("tid"),
        liq["liquidatedUser"].alias("liq_user"),
        liq["markPx"].alias("liq_mark_px"),
        liq["method"].alias("liq_method"),
        _liq_kind(F.col("fill.dir"), F.col("fill.side")).alias("liq_kind"),
    )
    fills = fills.withColumn("e", enriched)

    dedup_key = F.concat_ws(
        "|",
        F.coalesce(F.col("e.tid").cast("string"), F.lit("None")),
        F.coalesce(F.col("e.liq_user"), F.lit("None")),
        F.coalesce(F.col("e.coin"), F.lit("None")),
    )
    if dedup:
        # ST1 batch variant per tid|liq_user|coin. A batch DataFrame has no
        # arrival order, so "first occurrence" is made deterministic by
        # block order (block_number, local_time) — the closest observable
        # proxy for the ring's file order; duplicate wrappers of the same
        # fill differ only in those fields. (Streaming uses the watermark
        # variant keyed on the same key — streaming/pipeline.py.)
        from pyspark.sql.window import Window as W

        w = W.partitionBy("_k").orderBy(
            F.col("block_number").asc_nulls_last(),
            F.col("local_time").asc_nulls_last(),
            F.col("ev_idx").asc(),
        )
        fills = (
            fills.withColumn("_k", dedup_key)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_k", "_rn")
        )

    # computed from the original wire strings (not the struct's long cast)
    # so an ISO block_time still parses via the heuristic's string arm
    bt_ms = to_ms(F.col("block_time"))
    lt_ms = to_ms(F.col("local_time"))
    # Python `or`: 0 is falsy → fall through to local_time (N9/N11)
    ts_exch = F.when(bt_ms.isNotNull() & (bt_ms != 0), bt_ms).otherwise(lt_ms)

    coin_up = F.upper(F.coalesce(F.col("e.coin"), F.lit("")))
    symbol = F.when(coin_up != "", F.concat(coin_up, F.lit("USDC"))).otherwise(
        F.lit("")
    )

    price = truthy_coalesce(F.col("e.px"), F.lit("0.0")).try_cast("double")
    qty = F.abs(F.col("e.sz").try_cast("double"))
    # notional: price and qty truthy (non-NULL, non-zero) else NULL
    good = price.isNotNull() & (price != 0.0) & qty.isNotNull() & (qty != 0.0)

    extra = [dedup_key.alias("_dedup_key")] if keep_dedup_key else []
    return fills.select(
        F.lit("hyperliquid").alias("exchange"),
        F.lit(market).alias("market"),
        symbol.alias("symbol"),
        side_from_hl(F.col("e.dir"), F.col("e.side")).alias("side"),
        qty.alias("qty"),
        price.alias("price"),
        F.when(good, price * qty).otherwise(F.lit(None).cast("double")).alias(
            "notional"
        ),
        ts_exch.alias("ts_exch_ms"),
        F.col("ts_ingest_ms"),
        F.to_json(F.col("e")).alias("raw"),
        *extra,
    )


def _taker_and_fill(pair):
    """One parsed pair -> {taker, fill}. ``len(ev) == 2`` and the fill must
    be an object (":166-180"); anything else leaves ``fill`` NULL. A JSON
    null taker compares as the text "null" (tests/fixtures/edge pins it)."""
    fill_json = F.try_element_at(pair, F.lit(2))
    return F.struct(
        F.coalesce(F.try_element_at(pair, F.lit(1)), F.lit("null")).alias("taker"),
        F.when(
            (F.size(pair) == 2) & fill_json.startswith("{"),
            F.from_json(fill_json, HL_FILL_SCHEMA),
        ).alias("fill"),
    )


def _liq_kind(dir_col, side_col):
    """_classify_liq_kind (hyperliquid_adapter.py:50-60): textual hint in
    'dir' wins, fall back to side A→Long / B→Short, else Unknown."""
    d = F.lower(F.coalesce(dir_col, F.lit("")))
    s = F.upper(F.coalesce(side_col, F.lit("")))
    return (
        F.when(d.contains("close long"), F.lit("Long"))
        .when(d.contains("close short"), F.lit("Short"))
        .when(s == "A", F.lit("Long"))
        .when(s == "B", F.lit("Short"))
        .otherwise(F.lit("Unknown"))
    )
