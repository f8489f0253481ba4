"""Fold a Spark event log into per-layer task metrics.

Every task is charged to one layer through its stage:

1. a stage that runs the extraction UDF (``ArrowEvalPython``) is
   ``fetch_extract``; one that runs any other Python node (``MapInPandas``,
   ``FlatMap*InPandas``, a ``PythonRDD``) is ``sketches``;
2. otherwise the stage's SQL execution decides. A write names its table by
   its output path: ``results`` is ``fetch_extract``, ``sketches`` is
   ``sketches``, ``lineage`` is ``commit``, and ``new``/``frontier`` are
   ``commit`` for the stage that writes the files and ``expand`` for the
   stages feeding it. A query that reads the frontier without writing is the
   ``drain`` action;
3. everything else is ``other``.

Only jobs submitted inside ``[t0_ms, t1_ms]`` are folded, so set-up, warm-up
and the output check stay out.
"""

from __future__ import annotations

import json
import re
import statistics

LAYERS = ("drain", "fetch_extract", "sketches", "expand", "commit", "other")
_SKETCH_NODES = {"MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"}
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "boot_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:Input: [^\n]*\n)?Arguments: ([^,\s]+)"
)
_TABLE = re.compile(r"/(results|new|frontier|lineage|sketches)/(?:epoch|pass)=")
_READS_FRONTIER = re.compile(r"/(?:frontier|new)/epoch=")


def _plan_nodes(info: dict, out: list) -> list:
    out.append(info)
    for child in info.get("children", ()):
        _plan_nodes(child, out)
    return out


def _stage_layer(scopes: set, execution: dict | None) -> str:
    if "ArrowEvalPython" in scopes:
        return "fetch_extract"
    if scopes & _SKETCH_NODES or "PythonRDD" in scopes:
        return "sketches"
    if execution is None:
        return "other"
    table = execution["table"]
    if table == "results":
        return "fetch_extract"
    if table == "sketches":
        return "sketches"
    if table == "lineage":
        return "commit"
    if table in ("new", "frontier"):
        return "commit" if "WriteFiles" in scopes else "expand"
    if table is None and execution["reads_frontier"]:
        return "drain"
    return "other"


def fold(lines, t0_ms: float, t1_ms: float) -> dict:
    """Fold event-log lines (JSON strings) into the per-layer table."""
    executions: dict = {}
    accums: dict = {}  # accumulator id -> (python node kind, metric key)
    scan_accums: dict = {}  # accumulator id -> execution id ("size of files read")
    driver_updates = []
    stage_job: dict = {}
    stage_scopes: dict = {}
    job_exec: dict = {}
    tasks = []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                plan = e["physicalPlanDescription"]
                write = _WRITE.search(plan)
                table = _TABLE.search(write.group(1)) if write else None
                executions[e["executionId"]] = {
                    "table": table.group(1) if table else None,
                    "reads_frontier": bool(_READS_FRONTIER.search(plan)),
                }
            for node in _plan_nodes(e["sparkPlanInfo"], []):
                name = node["nodeName"]
                if name.startswith("Scan parquet"):
                    for m in node.get("metrics", ()):
                        if m["name"] == "size of files read":
                            scan_accums[m["accumulatorId"]] = e["executionId"]
                if name == "ArrowEvalPython" or name in _SKETCH_NODES:
                    for m in node.get("metrics", ()):
                        if m["name"] in _PY_METRICS:
                            accums[m["accumulatorId"]] = (name, _PY_METRICS[m["name"]])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
        elif kind == "SparkListenerJobStart":
            if not t0_ms <= e["Submission Time"] <= t1_ms:
                continue
            eid = e.get("Properties", {}).get("spark.sql.execution.id")
            job_exec[e["Job ID"]] = int(eid) if eid is not None else None
            for st in e["Stage Infos"]:
                stage_job.setdefault(st["Stage ID"], e["Job ID"])
                stage_scopes[st["Stage ID"]] = {
                    json.loads(r["Scope"])["name"] if r.get("Scope") else r["Name"]
                    for r in st["RDD Info"]
                }
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks.append(e)

    table = {
        layer: {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
        for layer in LAYERS
    }
    python: dict = {}
    fetch_stage_times: dict = {}
    for t in tasks:
        sid = t["Stage ID"]
        ex = executions.get(job_exec[stage_job[sid]])
        layer = _stage_layer(stage_scopes[sid], ex)
        m = t.get("Task Metrics") or {}
        row = table[layer]
        row["run_s"] += m.get("Executor Run Time", 0) / 1e3
        row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        row["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if layer == "fetch_extract" and "ArrowEvalPython" in stage_scopes[sid]:
            fetch_stage_times.setdefault(sid, []).append(m.get("Executor Run Time", 0))
        for acc in t["Task Info"].get("Accumulables", ()):
            hit = accums.get(acc["ID"])
            if hit is None:
                continue
            node, key = hit
            # sketch build (its own write) vs probe (inside the expand writes)
            group = "udfs" if node == "ArrowEvalPython" else (
                "sketch_build" if ex and ex["table"] == "sketches" else "sketch_probe"
            )
            scale = 1e3 if key.endswith("_s") else 1
            python.setdefault(group, {}).setdefault(key, 0.0)
            python[group][key] += float(acc["Update"]) / scale

    # the fetch scan's own driver-side metric: bytes of the files it listed
    # for reading (task input metrics undercount the vectorized reader)
    in_window = set(job_exec.values())
    scan_bytes = sum(
        int(v)
        for u in driver_updates
        if u["executionId"] in in_window
        and (executions.get(u["executionId"]) or {}).get("table") == "results"
        for acc, v in u["accumUpdates"]
        if acc in scan_accums
    )
    total = sum(r["run_s"] for r in table.values())
    skews = [
        max(times) / statistics.median(times)
        for times in fetch_stage_times.values()
        if statistics.median(times) > 0
    ]
    return {
        "layers": table,
        "other_share": table["other"]["run_s"] / total if total else 0.0,
        "python": python,
        "jobs": len(job_exec),
        "tasks": len(tasks),
        "fetch_scan_bytes": scan_bytes,
        "fetch_task_skew": statistics.median(skews) if skews else 0.0,
    }
