"""Verification-priority ordering for the external correctness harness.

The harness samples `__spark_entry__.queries()` in iteration order with a
bounded per-round budget (~50 of 85+ entries), so the order decides which
queries get a fresh driver-green row each round. The library REGISTRY
itself stays in registration order (this module never mutates it — see
ADVICE r3); `__spark_entry__` applies :func:`verification_order` at the
harness boundary, and every other consumer (QUERIES.md, tests, bench)
is order-independent.

Ordering rules, most important first:

1. **Changed since green** (`CHANGED_SINCE_GREEN`, hand-maintained each
   round): any query whose builder or underlying operator changed AFTER
   its last driver-green row goes first — a green row for code that no
   longer exists is the worst kind of stale signal (the r3 lesson: q15 and
   liq_cascades were rewritten onto sessionize_bucketed but kept riding
   their r2 greens). Within the tier, cheap JVM-only entries come first so
   cold-session Arrow/daemon spin-up doesn't land on a k-means query.
2. **Staleness**: everything else orders by the round of its latest
   driver signal (green row for oracled entries, clean rows-only run for
   the rest), never-sampled first, oldest next — computed from the
   `CORRECTNESS_r*.json` artifacts at the repo root via
   :func:`liq_stream_spark.tools.green_ledger`. Oracled entries sort
   before rows-only entries at equal staleness (a value-hash re-check
   beats a rows-ran re-check), and registration order breaks the
   remaining ties.

With ~50 budget and this ordering, every entry's hard signal refreshes
roughly every other round, and a rewrite can never coast on a pre-rewrite
green row.
"""

from __future__ import annotations

# Queries whose builder or underlying operator changed after their last
# driver-green row. POLICY (VERDICT r5 items 1/4): an entry is added in
# the SAME COMMIT as the code change it describes — never pre-declared
# for planned work — so this list and `git log` always agree. Reset to
# the new round's committed changes at round open (CORRECTNESS_r08
# greened the full 50-slot sample — every r8 entry led and
# hash-matched, q30 rows-only clean by design — so the r9 baseline is
# empty); entries below accumulate as r9 commits land. Tier convention:
# cheap JVM-only entries lead (cold-session Arrow/daemon spin-up must
# not land on a pandas-UDF query).
CHANGED_SINCE_GREEN: list[str] = [
    # Round 15 — CORRECTNESS_r14 re-signed the full r14 changed tier
    # (g01/g02/d06/d07/d14/p13/p14 led the sample and hash-matched), so
    # the baseline resets to this round's committed changes.
    #
    # - every query over plans/liquidations.py::unified_liquidations: the
    #   five venue normalizers parse each wire level once (each parse is a
    #   generator's argument, so no pushed-down predicate copies it; Bybit
    #   reads its input in one scan). Output rows are unchanged on every
    #   fixture; all eight are JVM-only.
    "liq_normalize_unified",
    "liq_venue_stats",
    "liq_top_by_notional",
    "liq_hourly_by_symbol",
    "liq_sixhour_dashboard",
    "liq_cascades",
    "liq_raw_variant",
    "liq_unified_rows",
]


def verification_order() -> list[str]:
    """All registry names, harness-priority first. Pure function of the
    REGISTRY and the CORRECTNESS_r*.json artifacts; raises loudly if
    CHANGED_SINCE_GREEN references a renamed/unknown query."""
    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.tools import green_ledger

    missing = [n for n in CHANGED_SINCE_GREEN if n not in REGISTRY]
    if missing:
        raise RuntimeError(
            f"CHANGED_SINCE_GREEN references unknown queries: {missing}"
        )
    ledger = green_ledger()
    reg_index = {n: i for i, n in enumerate(REGISTRY)}
    changed = set(CHANGED_SINCE_GREEN)

    def staleness_key(name: str):
        entry = ledger.get(name)
        latest = entry["round"] if entry else -1  # never sampled -> first
        oracled = REGISTRY[name].oracle is not None
        return (latest, 0 if oracled else 1, reg_index[name])

    rest = sorted((n for n in REGISTRY if n not in changed), key=staleness_key)
    return list(CHANGED_SINCE_GREEN) + rest
