"""Parser for Spark's uncompressed JSON event log.

The traced run starts its session with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false``, and tags every job with the
local property ``perfbench.span``. ``parse`` folds the log into one
record per span: jobs, stages run, task run and CPU time, GC, shuffle
read and write, spill, peak execution memory, bytes written and
Python-worker time, plus two SQL-plan facts for scans of the RAG index
(INDEX_SCAN): how many such scans the span's plans hold, and how many
rows left the nearest join above each (the pairs a top-k join scored).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"
# a parquet scan reading the index's chunk_id column
INDEX_SCAN = re.compile(r"FileScan parquet \[[^\]]*\bchunk_id#")

_PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}
# SQL timing metrics report milliseconds ("timing") or nanoseconds
_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class SpanStats(dict):
    """Counters for one span; missing keys read as 0."""

    def __missing__(self, key):
        return 0


def _plan_facts(node, facts, join_acc=None):
    """Walk a sparkPlanInfo tree, recording metric metadata by
    accumulator id and, per index scan, the accumulator of the
    nearest enclosing join's output rows."""
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        facts["meta"][m["accumulatorId"]] = (m.get("name"), m.get("metricType"))
    if "Join" in name or "CartesianProduct" in name:
        join_acc = next(
            (m["accumulatorId"] for m in node.get("metrics", [])
             if m.get("name") == "number of output rows"),
            join_acc,
        )
    if name.startswith("Scan") and INDEX_SCAN.search(node.get("simpleString", "")):
        scan_id = min((m["accumulatorId"] for m in node.get("metrics", [])), default=None)
        facts["scans"][scan_id] = join_acc
    for child in node.get("children", []):
        _plan_facts(child, facts, join_acc)


def _read_app(lines, spans) -> None:
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    exec_facts: dict[int, dict] = defaultdict(lambda: {"meta": {}, "scans": {}})
    acc_total: dict[int, float] = defaultdict(float)
    span_acc: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            if span is None:
                continue
            spans[span]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_span[int(eid)] = span
        elif kind == "SparkListenerStageCompleted":
            span = stage_span.get(ev["Stage Info"]["Stage ID"])
            if span is not None:
                spans[span]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                try:
                    upd = float(acc.get("Update"))
                except (TypeError, ValueError):
                    continue
                acc_total[acc["ID"]] += upd
                if span is not None:
                    span_acc[span][acc["ID"]] += upd
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            s = spans[span]
            s["tasks"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            s["peak_exec_mem"] = max(s["peak_exec_mem"], m.get("Peak Execution Memory", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_facts(ev["sparkPlanInfo"], exec_facts[int(ev["executionId"])])

    meta = {}
    for facts in exec_facts.values():
        meta.update(facts["meta"])
    for span, accs in span_acc.items():
        for acc_id, total in accs.items():
            name, mtype = meta.get(acc_id, (None, None))
            if name in _PY_METRICS:
                spans[span][_PY_METRICS[name]] += total * _TIMING_SCALE.get(mtype, 1e-3)
    # adaptive re-plans list nodes again with the same accumulators, so
    # scans and joins are counted once per accumulator id
    for eid, span in exec_span.items():
        scans = exec_facts.get(eid, {}).get("scans", {})
        spans[span]["matched_scans"] += len(scans)
        spans[span]["matched_join_rows"] += sum(
            acc_total.get(j, 0.0) for j in set(scans.values()) if j is not None
        )


def _app_logs(log_dir: str):
    """Each application's event lines: single-file logs and the
    ``eventlog_v2_*`` directories of rolling logs."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = sorted(
                glob.glob(os.path.join(path, "events_*")),
                key=lambda p: int(os.path.basename(p).split("_")[1]),
            )
        elif not path.endswith(".inprogress"):
            parts = [path]
        else:
            continue
        yield _lines(parts)


def _lines(paths):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


def parse(log_dir: str) -> dict[str, SpanStats]:
    """Per-span counters over every application log in ``log_dir``."""
    spans: dict[str, SpanStats] = defaultdict(SpanStats)
    for lines in _app_logs(log_dir):
        _read_app(lines, spans)
    return spans
