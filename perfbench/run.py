"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Every mutable path the engine touches
(Spark local dirs, warehouse, ANN index store, checkpoints, sink output,
temp files) lives under a private ``.perfbench/run-<pid>`` directory that
is removed at exit; traced runs leave their spans in ``.perfbench/traces``.
The last line of standard output is the JSON result; the lines before it
are a human-readable summary and the host fingerprint.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_fingerprint() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "loadavg_start": os.getloadavg()[0],
    }


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate(work: str, host: dict) -> dict[str, str]:
    """Point every mutable path at ``work`` and size the session from the
    host. Environment variables must be set before the JVM starts; Spark's
    Python workers inherit them, which is how they import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # one core stays free for the driver JVM's JIT and GC threads, the
        # Python driver and the pandas-UDF workers: with every core running
        # a task they all contend and warm passes slow down erratically
        "SPARK_GRAFT_CPUS": str(max(1, host["nproc"] - 1)),
        # a quarter of RAM: the host is shared with the Python workers
        "SPARK_DRIVER_MEMORY": f"{max(1, host['mem_total_kb'] // 4 // 1024 ** 2)}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "LIQ_ANN_STORE": os.path.join(work, "ann_index"),
        "TMPDIR": tmp,
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark() -> int:
    """Stop the session and the JVM it launched, wait for the JVM to exit,
    and return its peak resident set in kB (0 if no JVM was started)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    hwm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    return hwm


def metrics_for(spec: dict, trace: bool, values: dict[str, float]) -> dict:
    """Every metric BENCHMARK.json declares for this kind of run, with its
    unit. A per-layer metric of a layer this workload never calls reads 0."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in group
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "liq_stream_spark")):
        print(f"engine package liq_stream_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = host_fingerprint()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    conf = isolate(work, host)
    if args.trace:
        import sparkstats

        conf.update(sparkstats.ui_conf())
    ctx = workloads.Ctx(work, args.seed, args.seconds, tracer, conf, T_START)
    try:
        with tracer.span("bench.run"):
            res = workloads.WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - T_START
    finally:
        jvm_kb = stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    pass_s = statistics.median(res.warm_passes)
    values = {
        "setup_s": res.setup_s,
        "pass_s": pass_s,
        "cold_pass_s": res.cold_pass_s,
        "peak_rss_mb": (jvm_kb + res.py_peak_kb) / 1024,
        **res.layers,
    }
    if args.trace:
        values.update(workloads.trace_layers(tracer, pass_s, T_START))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", run_id + ".jsonl"))

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"wall={wall:.1f}s warm passes " + " ".join(f"{t:.3f}" for t in res.warm_passes))
    for f_ in res.failures:
        print(f"# FAILED {f_}")
    print(f"# error_rate {res.failed / max(res.attempted, 1):.4f} ratio "
          f"({res.failed} of {res.attempted})")
    metrics = metrics_for(spec, bool(args.trace), values)
    for name, m in metrics.items():
        print(f"# {name} {m['value']:.6g} {m['unit']}")
    print("# layers " + json.dumps({k: round(v, 4) for k, v in res.layers.items()}))
    print("# host " + json.dumps(host))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
