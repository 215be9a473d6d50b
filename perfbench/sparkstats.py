"""Stage-level numbers for the traced run, read from Spark's REST API.

The traced run enables the Spark UI on a loopback port and tags each
query's jobs with the job group ``perfbench:<query>:<pass>``; this module
sums the stages of one pass's jobs per query.
"""

from __future__ import annotations

import json
import socket
import time
import urllib.request

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF")


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def ui_conf() -> dict[str, str]:
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(free_port()),
        "spark.ui.bindAddress": "127.0.0.1",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
        "spark.sql.ui.retainedExecutions": "5000",
    }


class _Api:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.getConf().get("spark.ui.port")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


def _python_ms(execution: dict) -> float:
    """Task-summed "time to run Python workers" of the Python-evaluation
    nodes of one SQL execution."""
    return sum(
        _ms(m.get("value", ""))
        for node in execution.get("nodes", [])
        if node.get("nodeName", "").startswith(PYTHON_NODES)
        for m in node.get("metrics", [])
        if m.get("name") == "time to run Python workers"
    )


def _ms(text: str) -> float:
    """Total of a SQL time metric as the UI prints it: "total (min, med,
    max (stageId: taskId))\\n5.2 s (...)" or a bare "12 ms"."""
    first = text.strip().splitlines()[-1].split("(")[0].strip()
    try:
        value, unit = first.split()
        return float(value.replace(",", "")) * {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}[unit]
    except (ValueError, KeyError):
        return 0.0


def query_stages(spark, queries: list[str], pass_index: int) -> dict[str, float]:
    """Per query: executor run time, shuffle and spill bytes, skew (max ÷
    median task run time of its heaviest stage) and Python-eval time, for
    the jobs of pass ``pass_index``; plus the Spark driver JVM's total GC time."""
    api = _Api(spark)
    time.sleep(1.0)  # let the listener bus deliver the last job's events
    jobs = api.get("/jobs")
    sql = api.get("/sql?details=true&planDescription=false&length=10000")
    out: dict[str, float] = {}
    for q in queries:
        group = f"perfbench:{q}:{pass_index}"
        job_ids = {j["jobId"] for j in jobs if j.get("jobGroup") == group}
        stage_ids = {s for j in jobs if j["jobId"] in job_ids for s in j["stageIds"]}
        run_ms = shuffle = spill = 0
        heaviest = None
        for sid in stage_ids:
            for st in api.get(f"/stages/{sid}"):
                if st.get("status") != "COMPLETE":
                    continue
                run_ms += st["executorRunTime"]
                shuffle += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                spill += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                if heaviest is None or st["executorRunTime"] > heaviest["executorRunTime"]:
                    heaviest = st
        skew = 1.0
        if heaviest is not None:
            summary = api.get(
                f"/stages/{heaviest['stageId']}/{heaviest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            med, mx = summary["executorRunTime"]
            skew = mx / med if med else 1.0
        py_ms = sum(
            _python_ms(e) for e in sql
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        )
        out[f"exec.{q}.executor_run_s"] = run_ms / 1000
        out[f"exec.{q}.shuffle_bytes"] = shuffle
        out[f"exec.{q}.spill_bytes"] = spill
        out[f"exec.{q}.skew"] = skew
        out[f"exec.{q}.python_eval_s"] = py_ms / 1000
    out["exec.gc_s"] = sum(e["totalGCTime"] for e in api.get("/allexecutors")) / 1000
    return out
