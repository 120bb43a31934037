"""Per-layer metrics of the traced run, named after the package's
modules. Every traced run prints all of them; a metric whose layer the
workload does not exercise reads 0 and is listed with the reason."""

from __future__ import annotations

# (name, unit, the workload that exercises the layer; None = all)
_RAG = "rag_query_batch"
_OPS = "ops_sample"

CATALOG = [
    ("session.start_s", "s", None),
    ("registry.load_s", "s", None),
    ("tables.scan_s", "s", None),
    ("text.chunk.exec_s", "s", _RAG),
    ("text.chunk.rows_out", "count", _RAG),
    ("text.chunk.chunks_per_doc", "ratio", _RAG),
    ("pipeline.ingest.build_s", "s", _RAG),
    ("pipeline.ingest.exec_s", "s", _RAG),
    ("pipeline.ingest.jobs", "count", _RAG),
    ("pipeline.ingest.stages", "count", _RAG),
    ("pipeline.ingest.task_cpu_s", "s", _RAG),
    ("pipeline.ingest.gc_s", "s", _RAG),
    ("pipeline.ingest.shuffle_write_bytes", "bytes", _RAG),
    ("pipeline.ingest.spill_bytes", "bytes", _RAG),
    ("pipeline.ingest.bytes_written", "bytes", _RAG),
    ("pipeline.ingest.index_bytes_per_text_byte", "ratio", _RAG),
    ("pipeline.topk.build_s", "s", _RAG),
    ("pipeline.topk.build_jobs", "count", _RAG),
    ("pipeline.topk.plan_s", "s", _RAG),
    ("pipeline.topk.exec_s", "s", _RAG),
    ("pipeline.topk.task_cpu_s", "s", _RAG),
    ("pipeline.topk.shuffle_write_bytes", "bytes", _RAG),
    ("pipeline.topk.spill_bytes", "bytes", _RAG),
    ("pipeline.topk.pairs_scored", "count", _RAG),
    ("pipeline.topk.pairs_per_result", "ratio", _RAG),
    ("pipeline.mmr.exec_s", "s", _RAG),
    ("pipeline.mmr.python_s", "s", _RAG),
    ("pipeline.mmr.rows_to_python", "count", _RAG),
    ("ml.mmr_select_s", "s", _RAG),
    ("pipeline.gate.exec_s", "s", _RAG),
    ("pipeline.route.exec_s", "s", _RAG),
    ("pipeline.query.build_s", "s", _RAG),
    ("pipeline.query.build_jobs", "count", _RAG),
    ("pipeline.query.plan_s", "s", _RAG),
    ("pipeline.query.exec_s", "s", _RAG),
    ("pipeline.query.fetch_s", "s", _RAG),
    ("pipeline.query.jobs", "count", _RAG),
    ("pipeline.query.index_scans", "count", _RAG),
    ("pipeline.query.single_s", "s", _RAG),
    ("ops.build_s", "s", _OPS),
    ("ops.build_jobs", "count", _OPS),
    ("ops.plan_s", "s", _OPS),
    ("ops.exec_s", "s", _OPS),
    ("ops.fetch_s", "s", _OPS),
    ("ops.jobs", "count", _OPS),
    ("ops.task_cpu_s", "s", _OPS),
    ("ops.shuffle_write_bytes", "bytes", _OPS),
    ("ops.spill_bytes", "bytes", _OPS),
    ("ops.python_s", "s", _OPS),
    ("ops.cache_entries_built", "count", _OPS),
    ("trace.overhead_s", "s", None),
]


def derive(workload_name: str, w, tr, log, overhead_s: float,
           setup_parts: dict) -> tuple[dict, dict]:
    """({name: (value, unit)} for every catalog metric,
    {name: reason} for those this workload does not exercise).
    ``setup_parts`` holds the cold set-up's steps in seconds."""
    measured = {
        "session.start_s": setup_parts["session.start"],
        "registry.load_s": setup_parts["registry.load"],
        "tables.scan_s": setup_parts["tables.scan"],
        "trace.overhead_s": overhead_s,
        **w.layer_metrics(tr, log),
    }
    out, absent = {}, {}
    for name, unit, scope in CATALOG:
        if name in measured:
            out[name] = (float(measured[name]), unit)
        else:
            out[name] = (0.0, unit)
            absent[name] = f"layer not exercised by {workload_name}; measured on {scope}"
    return out, absent
