"""Offline summarizer for an uncompressed, non-rolling Spark event log.

The traced benchmark run enables the log by session conf
(``EVENT_LOG_CONF``) and tags every Spark job with the id of the span that
was open when the job started (local property ``perfbench.span``). This
module folds the log back into per-span totals:

- task metrics: tasks, executor CPU, run time, GC, shuffle read/write,
  spill, input and output bytes;
- SQL plan metrics, summed over task updates and driver updates and
  grouped by the plan node that owns them: data sent to and returned from
  Python workers (ArrowEvalPython / MapInArrow), partial vs final
  HashAggregate output rows, broadcast build time, scan rows, and written
  files, rows and bytes;
- the per-stage table (wall and the same task and SQL fields; driver-side
  updates such as broadcast build time are filed per span only), whose
  longest stage is the outlier a codegen blow-up shows up as.
"""

from __future__ import annotations

import json
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain JSON-lines event log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str, str]], parent: str = "") -> None:
    """accumulator id -> (node name, parent node name, metric name); the
    parent skips codegen wrappers, which are not operators."""
    node = plan["nodeName"]
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (node, parent, m["name"])
    wrapper = node.startswith("WholeStageCodegen") or node == "InputAdapter"
    for child in plan.get("children", []):
        _plan_metrics(child, out, parent if wrapper else node)


def _classify(node: str, parent: str, metric: str) -> str | None:
    """Name of the summary field an SQL metric feeds, or None."""
    if metric == "data sent to Python workers":
        return "py_sent_bytes"
    if metric == "data returned from Python workers":
        return "py_returned_bytes"
    if metric == "time to build" and "Broadcast" in node:
        return "broadcast_build_ms"
    if metric == "number of output rows":
        if node == "HashAggregate":
            # the partial aggregate is the one that feeds a shuffle; a plain
            # distinct has no "partial_" function to tell it by
            return "partial_agg_rows" if parent == "Exchange" else "final_agg_rows"
        if node.startswith("Scan"):
            return "scan_rows"
        if node in ("MapInArrow", "MapInPandas", "ArrowEvalPython"):
            return "python_out_rows"
        if node.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            return "written_rows"
    if metric == "size of files read" and node.startswith("Scan"):
        return "scan_file_bytes"
    if metric == "number of written files":
        return "written_files"
    if metric == "written output":
        return "written_bytes"
    return None


_TASK_FIELDS = (
    "tasks", "task_cpu_s", "task_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
)
_SQL_FIELDS = (
    "py_sent_bytes", "py_returned_bytes", "broadcast_build_ms",
    "partial_agg_rows", "final_agg_rows", "scan_rows", "scan_file_bytes",
    "python_out_rows", "written_rows", "written_files", "written_bytes",
)


def _empty() -> dict:
    d = {k: 0 for k in _TASK_FIELDS + _SQL_FIELDS}
    d.update(jobs=0, stages=0, max_stage_s=0.0)
    return d


def summarize(path: str) -> dict:
    """Fold one event log into ``{"spans": {span: totals}, "stages": [...]}``.

    Jobs started with no span open are filed under the span ``""``."""
    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f if line.strip()]

    acc: dict[int, tuple[str, str, str]] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    spans: dict[str, dict] = defaultdict(_empty)
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(e["sparkPlanInfo"], acc)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                acc.setdefault(m["accumulatorId"], ("", "", m["name"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY, "")
            spans[span]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_span[sid] = span
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), span)

    stage_tot: dict[int, dict] = defaultdict(_empty)

    def add_sql(targets, acc_id: int, value) -> None:
        meta = acc.get(acc_id)
        field = _classify(*meta) if meta else None
        if field is not None:
            for t in targets:
                t[field] += int(value)

    stages = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            targets = (spans[stage_span.get(e["Stage ID"], "")], stage_tot[e["Stage ID"]])
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            for s in targets:
                s["tasks"] += 1
                s["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                s["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                s["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                s["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in a and not str(a.get("Name", "")).startswith("internal."):
                    add_sql(targets, a["ID"], a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            span = exec_span.get(e["executionId"], "")
            for acc_id, value in e["accumUpdates"]:
                add_sql((spans[span],), acc_id, value)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            span = stage_span.get(info["Stage ID"], "")
            wall = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
            spans[span]["stages"] += 1
            spans[span]["max_stage_s"] = max(spans[span]["max_stage_s"], wall)
            per = {k: v for k, v in stage_tot[info["Stage ID"]].items() if k in _TASK_FIELDS + _SQL_FIELDS}
            stages.append({
                "stage": info["Stage ID"], "span": span, "name": info.get("Stage Name", ""),
                "wall_s": wall, **per,
            })
    return {"spans": dict(spans), "stages": stages}


def total(summary: dict, span_ids) -> dict:
    """Sum of the per-span totals over ``span_ids`` (max for max fields)."""
    out = _empty()
    for sid in span_ids:
        s = summary["spans"].get(sid)
        if s is None:
            continue
        for k, v in s.items():
            out[k] = max(out[k], v) if k.startswith("max_") else out[k] + v
    return out

