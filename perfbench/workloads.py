"""The benchmark workloads. Each drives the engine only through its public
functions and returns a ``Result``; ``run.py`` prints it.

Both workloads share one shape, so both report the same end-to-end
metrics: a set-up (session start, warm-up, input generation and, for
``query_llm``, the cold index build), one cold pass in the fresh session,
then a fixed number of warm passes (``_warm_loop``). Every pass's output
is checked outside its timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
import sparkstats
from spans import Tracer, self_times


@dataclass
class Ctx:
    work: str  # this run's private working directory
    seed: int
    seconds: float
    tracer: Tracer
    spark_conf: dict[str, str]
    t_start: float  # perf_counter when the process started


@dataclass
class Result:
    setup_s: float
    cold_pass_s: float
    warm_passes: list[float]
    attempted: int = 0
    failed: int = 0
    py_peak_kb: int = 0  # before the checks that follow the last pass
    layers: dict[str, float] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(ctx: Ctx, layers: dict[str, float]):
    from liq_stream_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=ctx.spark_conf)
    t1 = time.perf_counter()
    with ctx.tracer.span("session.warmup"):
        spark.range(10_000).selectExpr("sum(id)").collect()
    layers["session.start_s"] = t1 - t0
    layers["session.warmup_s"] = time.perf_counter() - t1
    return spark


def _warm_loop(ctx: Ctx, one_pass, seconds_per_pass: float) -> list[float]:
    """A fixed number of warm passes: one per ``seconds_per_pass`` of
    ``seconds``, rounded up, and at least two. The count never
    depends on how fast the passes run, so ``pass_s`` is always the median
    of the same passes (the first warm passes still run JIT-slow, and a
    faster change must not move the median onto later, faster ones)."""
    n = max(2, math.ceil(ctx.seconds / seconds_per_pass))
    return [one_pass(i) for i in range(1, n + 1)]


def _py_peak_kb() -> int:
    """Peak resident set of this Python driver so far, in kB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def _du(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# -- ingest_drain ---------------------------------------------------------------

# A drain pass has a fixed cost of about 4.5 s on a 4-vCPU host (stream
# start, planning, sink jobs; measured with 500 rows per venue); at 40,000
# rows per venue per-row work is about half of a warm pass.
ROWS_PER_VENUE = 40_000
# warm passes are about 9-11 s on a 4-vCPU host: two at the declared 15 s
DRAIN_SECONDS_PER_PASS = 7.5


def _read_sink(path: str, fmt: str) -> dict[str, tuple[int, float]]:
    """{venue: (rows, fsum(notional))} read back from a partitioned sink
    directory (``exchange=<venue>/market=.../date=.../part-*``)."""
    import pyarrow.csv as pcsv
    import pyarrow.parquet as pq

    csv_parse = pcsv.ParseOptions(escape_char="\\", double_quote=False, newlines_in_values=True)
    csv_cols = pcsv.ConvertOptions(include_columns=["notional"])
    per: dict[str, list[float]] = {}
    for d, _, names in os.walk(path):
        venue = next(
            (p.split("=", 1)[1] for p in d.split(os.sep) if p.startswith("exchange=")),
            None,
        )
        for n in names:
            if venue is None or n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            f = os.path.join(d, n)
            if fmt == "parquet":
                table = pq.read_table(f, columns=["notional"])
            else:
                table = pcsv.read_csv(f, parse_options=csv_parse, convert_options=csv_cols)
            per.setdefault(venue, []).extend(table.column(0).to_pylist())
    return {v: (len(xs), math.fsum(xs)) for v, xs in per.items()}


def check_sink(observed: dict, truth: dict) -> list[str]:
    """Exact per-venue row counts and notional sums. A missing, duplicated
    or altered row changes one of the two; the Hyperliquid count also pins
    the dedup to exactly the re-emitted fills the generator injected."""
    bad = []
    for venue, t in truth.items():
        rows, total = observed.get(venue, (0, 0.0))
        if rows != t["rows"] or total != t["notional_sum"]:
            bad.append(
                f"{venue}: {rows} rows / notional {total!r}, "
                f"expected {t['rows']} / {t['notional_sum']!r}"
            )
    extra = set(observed) - set(truth)
    if extra:
        bad.append(f"unexpected venues {sorted(extra)}")
    return bad


_PHASES = {
    # Spark progress durationMs key -> span name (layer.phase)
    "latestOffset": "sources.latest_offset",
    "getBatch": "sources.get_batch",
    "walCommit": "pipeline.wal_commit",
    "queryPlanning": "pipeline.query_planning",
    "addBatch": "sinks.add_batch",
    "commitOffsets": "pipeline.commit_offsets",
}


def ingest_drain(ctx: Ctx) -> Result:
    """Drain a pre-generated five-venue backlog with ``run_pipeline(...,
    available_now=True)`` into a parquet + CSV fan-out. One pass is one
    full drain into fresh sink and checkpoint directories."""
    from liq_stream_spark.sinks import FanOutConfig, fan_out
    from liq_stream_spark.streaming.pipeline import run_pipeline

    tr = ctx.tracer
    layers: dict[str, float] = {}
    src = os.path.join(ctx.work, "backlog")
    t0 = time.perf_counter()
    with tr.span("loadgen.generate"):
        truth = gen.write_backlog(src, ctx.seed, ROWS_PER_VENUE)
    layers["loadgen.gen_s"] = time.perf_counter() - t0
    layers["loadgen.rows_generated"] = sum(t["rows"] for t in truth.values())
    spark = start_session(ctx, layers)
    res = Result(setup_s=time.perf_counter() - ctx.t_start, cold_pass_s=0.0, warm_passes=[])

    dirs = {pair: os.path.join(src, gen.SOURCE_DIRS[pair[0]]) for pair in gen.STREAMS}
    phases: list[dict[str, float]] = []
    state: list[dict] = []
    last_out: dict[str, str] = {}

    def one_pass(i: int) -> float:
        out = {k: os.path.join(ctx.work, f"out{i}", k) for k in ("parquet", "csv", "ckpt")}
        res.attempted += 1
        wall0, t = time.time(), time.perf_counter()
        try:
            with tr.span("pipeline.drain"):
                q = run_pipeline(
                    spark,
                    gen.STREAMS,
                    dirs,
                    FanOutConfig(parquet_path=out["parquet"], csv_path=out["csv"]),
                    checkpoint_dir=out["ckpt"],
                    available_now=True,
                )
                q.awaitTermination()
            dt = time.perf_counter() - t
        except Exception as e:  # a failed drain is counted, not fatal
            res.fail(f"drain {i}: {type(e).__name__}: {e}")
            return time.perf_counter() - t
        with tr.span("harness.check"):
            progress = [json.loads(p.json) for p in q.recentProgress]
            phases.append(_phase_totals(progress))
            state.append(_state(progress))
            _progress_spans(tr, progress, wall0, t)
            for fmt in ("parquet", "csv"):
                bad = check_sink(_read_sink(out[fmt], fmt), truth)
                if bad:
                    res.fail(f"drain {i} {fmt}: " + "; ".join(bad))
            if last_out:
                shutil.rmtree(os.path.dirname(last_out["parquet"]), ignore_errors=True)
            last_out.update(out)
        return dt

    res.cold_pass_s = one_pass(0)
    res.warm_passes = _warm_loop(ctx, one_pass, DRAIN_SECONDS_PER_PASS)
    res.py_peak_kb = _py_peak_kb()

    warm = phases[1:] or phases
    for key, name in _PHASES.items():
        layers[name + "_ms"] = _median([p.get(key, 0.0) for p in warm])
    layers["pipeline.trigger_ms"] = _median([p.get("triggerExecution", 0.0) for p in warm])
    layers["pipeline.batches"] = _median([p["batches"] for p in warm])
    layers["pipeline.state_rows"] = _median([s["rows"] for s in state[1:] or state])
    layers["pipeline.state_bytes"] = _median([s["bytes"] for s in state[1:] or state])
    injected = truth["hyperliquid"]["duplicates"]
    layers["pipeline.dedup_dropped"] = _median([s["dropped"] for s in state[1:] or state]) / max(injected, 1)
    files, size = _du(last_out["parquet"])
    csv_files, _ = _du(last_out["csv"])
    layers["sinks.files_written"] = files + csv_files
    layers["sinks.bytes_per_row"] = size / layers["loadgen.rows_generated"]
    layers["pipeline.rows_per_s"] = layers["loadgen.rows_generated"] / _median(res.warm_passes)

    layers["session.persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    if tr.enabled:
        _trace_normalize_and_sinks(ctx, spark, src, truth, layers)
    res.layers = layers
    return res


def _phase_totals(progress: list[dict]) -> dict[str, float]:
    tot: dict[str, float] = {"batches": 0}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        tot["batches"] += 1
        for k, v in (p.get("durationMs") or {}).items():
            tot[k] = tot.get(k, 0.0) + v
    return tot


def _state(progress: list[dict]) -> dict:
    rows = size = dropped = 0
    for p in progress:
        for op in p.get("stateOperators") or []:
            rows = max(rows, op.get("numRowsTotal", 0))
            size = max(size, op.get("memoryUsedBytes", 0))
            dropped += (op.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
    return {"rows": rows, "bytes": size, "dropped": dropped}


def _progress_spans(tr: Tracer, progress: list[dict], wall0: float, perf0: float) -> None:
    """Lay each batch's phase durations out as child spans of the drain,
    starting at the batch's trigger timestamp."""
    if not tr.enabled:
        return
    from datetime import datetime

    parent = tr.last("pipeline.drain")
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        at = perf0 + (ts - wall0)
        for key, name in _PHASES.items():
            ms = (p.get("durationMs") or {}).get(key)
            if ms:
                tr.add(name, at, at + ms / 1000, parent)
                at += ms / 1000


def _trace_normalize_and_sinks(ctx, spark, src, truth, layers) -> None:
    """Traced run only: each venue's normalizer as a batch job over its
    backlog, then one timed ``fan_out`` call on the fixed normalized union."""
    from pyspark.sql import functions as F

    from liq_stream_spark import operators
    from liq_stream_spark.sinks import FanOutConfig, fan_out
    from liq_stream_spark.sources import read_hl_hourly, read_jsonl_frames

    frames = []
    for venue, market in gen.STREAMS:
        d = os.path.join(src, gen.SOURCE_DIRS[venue])
        with ctx.tracer.span(f"normalize.{venue}"):
            t = time.perf_counter()
            raw = read_hl_hourly(spark, d) if venue == "hyperliquid" else read_jsonl_frames(spark, d)
            # dedup=False: the drain dedups in watermark state, not with the
            # batch normalizer's window
            kw = {"dedup": False, "keep_dedup_key": True} if venue == "hyperliquid" else {}
            df = getattr(operators, f"normalize_{venue}")(raw, market=market, **kw)
            n = df.agg(F.count("*"), F.sum(F.length("raw"))).collect()[0][0]
            dt = time.perf_counter() - t
        layers[f"normalize.{venue}.rows_per_s"] = n / dt
        layers[f"normalize.{venue}.yield"] = n / truth[venue]["events_in"]
        frames.append(df.drop("_dedup_key") if venue == "hyperliquid" else df)
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df)
    union = union.persist()
    union.count()
    out = os.path.join(ctx.work, "fan_out")
    with ctx.tracer.span("sinks.fan_out"):
        t = time.perf_counter()
        fan_out(FanOutConfig(parquet_path=f"{out}/parquet", csv_path=f"{out}/csv"))(union, 0)
        layers["sinks.fan_out_s"] = time.perf_counter() - t
    union.unpersist()


# -- query_llm ------------------------------------------------------------------

LLM_QUERIES = [
    "t01_doc_stats",
    "t04_simhash",
    "d02_minhash_signatures",
    "d03_minhash_lsh_pairs",
    "d05_simhash_near_pairs",
    "s01_cosine_topk",
    "d15_band_index_pairs",
    "d14_verified_dedup_clusters",
]
# warm passes are about 8-10 s on a 4-vCPU host: two at the declared 15 s
LLM_SECONDS_PER_PASS = 7.5
# The queries read the sf0.01 test tables (500 documents, 500 embeddings),
# stored with the benchmark, and are checked against pins.json: their
# DuckDB oracle results, hashed once by make_pins.py.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
PINS = os.path.join(os.path.dirname(SF_DIR), "pins.json")


def result_hash(cols, rows) -> tuple[int, str]:
    """(row count, sha1) of the engine's canonical, order-insensitive form
    of a result set (``liq_stream_spark.compare.frame_repr``)."""
    from liq_stream_spark.compare import frame_repr

    names, body = frame_repr(list(cols), [tuple(r) for r in rows])
    digest = hashlib.sha1(json.dumps([names, body]).encode()).hexdigest()
    return len(body), digest


def data_hash() -> str:
    """sha1 over the stored tables, so stale pins are caught."""
    h = hashlib.sha1()
    for name in sorted(os.listdir(SF_DIR)):
        with open(os.path.join(SF_DIR, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """Run each query's registered DuckDB oracle over the generated tables."""
    import duckdb

    from liq_stream_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute("SET memory_limit='3GB'")
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for n in names:
            cur = con.execute(REGISTRY[n].oracle)
            out[n] = result_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def load_pins() -> dict[str, tuple[int, str]]:
    with open(PINS) as f:
        pins = json.load(f)
    if pins["data_sha1"] != data_hash():
        raise RuntimeError("pins.json is stale for the stored tables; run make_pins.py")
    return {n: (p["rows"], p["sha1"]) for n, p in pins["queries"].items()}


def check_results(got: dict[tuple[str, int], tuple[int, str]], pins) -> list[str]:
    """Compare every (query, pass) result with its pin."""
    return [
        f"{q} pass {i}: {h[0]} rows {h[1][:12]}, expected {pins[q][0]} rows {pins[q][1][:12]}"
        for (q, i), h in sorted(got.items())
        if h != tuple(pins[q])
    ]


def query_llm(ctx: Ctx) -> Result:
    """Closed loop, one client: passes over the LLM-operator queries, each
    timed as ``build()`` plus ``collect()`` (the collected rows are what
    the check hashes, so no pass runs twice)."""
    from liq_stream_spark.plans import REGISTRY

    tr = ctx.tracer
    layers: dict[str, float] = {}
    spark = start_session(ctx, layers)
    sc = spark.sparkContext
    t1 = time.perf_counter()
    with tr.span("store.index_build"):
        # d15's build() on an empty store builds and publishes the bucketed
        # MinHash band index (plans.index_cache.ensure_band_index); every
        # pass then only probes it
        REGISTRY["d15_band_index_pairs"].build(spark, SF_DIR)
    layers["store.index_build_s"] = time.perf_counter() - t1
    res = Result(setup_s=time.perf_counter() - ctx.t_start, cold_pass_s=0.0, warm_passes=[])
    layers["store.index_bytes"] = _du(os.environ["LIQ_ANN_STORE"])[1]

    got: dict[tuple[str, int], tuple[int, str]] = {}
    per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in LLM_QUERIES}

    def one_pass(i: int) -> float:
        total = 0.0
        collected = {}
        with tr.span("bench.pass"):
            for q in LLM_QUERIES:
                short = q.split("_", 1)[0]
                if tr.enabled:
                    sc.setJobGroup(f"perfbench:{short}:{i}", q)
                res.attempted += 1
                t = time.perf_counter()
                try:
                    with tr.span(f"plans.{short}.build"):
                        df = REGISTRY[q].build(spark, SF_DIR)
                    b = time.perf_counter()
                    with tr.span(f"exec.{short}.collect"):
                        rows = df.collect()
                    e = time.perf_counter()
                except Exception as ex:  # counted in error_rate, never skipped
                    res.fail(f"{q} pass {i}: {type(ex).__name__}: {ex}")
                    total += time.perf_counter() - t
                    continue
                total += e - t
                per_query[q].append((b - t, e - b))
                collected[q] = (df.columns, rows)
        if tr.enabled:
            sc.setJobGroup("perfbench:bench", "checks")
        with tr.span("harness.check"):
            for q, (cols, rows) in collected.items():
                got[(q, i)] = result_hash(cols, rows)
        # persisted RDDs left in the session after every pass so far
        layers["session.persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
        return total

    res.cold_pass_s = one_pass(0)
    res.warm_passes = _warm_loop(ctx, one_pass, LLM_SECONDS_PER_PASS)
    res.py_peak_kb = _py_peak_kb()

    with tr.span("harness.check"):
        try:
            pins = load_pins()
        except Exception as ex:
            res.fail(f"expected results unavailable: {type(ex).__name__}: {ex}")
        else:
            for msg in check_results(got, pins):
                res.fail(msg)

    for q, samples in per_query.items():
        short = q.split("_", 1)[0]
        warm = samples[1:] or samples
        layers[f"plans.{short}.build_s"] = _median([b for b, _ in warm])
        layers[f"plans.{short}.exec_s"] = _median([e for _, e in warm])
    d15 = per_query["d15_band_index_pairs"][1:]
    layers["store.probe_s"] = _median([b + e for b, e in d15])
    if tr.enabled:
        with tr.span("harness.stats"):
            last = len(res.warm_passes)
            layers.update(sparkstats.query_stages(spark, [q.split("_", 1)[0] for q in LLM_QUERIES], last))
    res.layers = layers
    return res


WORKLOADS = {"ingest_drain": ingest_drain, "query_llm": query_llm}


def trace_layers(tr: Tracer, pass_s: float, t_start: float) -> dict[str, float]:
    """Per-layer self times from the spans; the share of the run's wall
    time (from process start) that no layer accounts for: the root and pass
    spans' own time plus the start-up before the root span, where the
    benchmark's checks and stats reads count as the ``harness`` layer; and
    the traced run's pass time (compare with the untraced runs' ``pass_s``
    for the tracing overhead)."""
    st = self_times(tr.spans)
    root = tr.spans[0]
    out = {f"{layer}.self_s": v for layer, v in st.items()}
    out["trace.unattributed"] = (st["bench"] + root.start - t_start) / (root.end - t_start)
    out["trace.pass_s"] = pass_s
    return out
