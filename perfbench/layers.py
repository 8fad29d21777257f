"""Per-layer metrics from a traced run's spans (README.md has the map).

Every metric is reported on every workload, so the output keys are the
same for all of them; a layer a workload does not reach reads 0. Per-op
values are averaged over the measured operations (queries or ticks).
"""

from __future__ import annotations

import statistics

from spans import Tracer

# name -> unit, in the order BENCHMARK.json lists them.
METRICS = {
    "setup.cold_s": "s",
    "session.get_spark_s": "s",
    "registry.catalog_s": "s",
    "data.mirror_build_s": "s",
    "data.load_table_calls": "count",
    "data.load_table_s": "s",
    "data.schema_jobs": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "scale.materialize_calls": "count",
    "scale.materialize_s": "s",
    "scale.session_cached_calls": "count",
    "scale.session_cache_hit_ratio": "ratio",
    "scale.spread_calls": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.scan_s": "s",
    "exec.scan_rows": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_records": "count",
    "exec.agg_build_s": "s",
    "exec.broadcast_s": "s",
    "exec.spill_bytes": "B",
    "exec.peak_exec_mem_bytes": "B",
    "exec.python_eval_s": "s",
    "exec.python_init_s": "s",
    "streaming.persist_s": "s",
    "streaming.quarantine_s": "s",
    "streaming.latest_view_s": "s",
    "streaming.history_query_s": "s",
    "streaming.rows_quarantined": "count",
    "streaming.ingest_rows_per_s": "1/s",
    "store.files": "count",
    "store.bytes_per_input_byte": "ratio",
    "checkpoint.bytes": "B",
    "split.construct_materialize_frac": "ratio",
    "split.streaming_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

# Operator metrics read from the status store (spans.action_metrics).
_EXEC_SUMS = (
    "exec.scan_s", "exec.scan_rows", "exec.shuffle_write_bytes",
    "exec.shuffle_records", "exec.agg_build_s", "exec.broadcast_s",
    "exec.spill_bytes", "exec.python_eval_s", "exec.python_init_s",
)


def summarise(ctx, tracer: Tracer, measured: range, overhead_s: float, wall: float) -> dict:
    """``measured``: indices of the spans opened while measuring;
    ``overhead_s``: the tracer's own time in that window."""
    kids = tracer.children()
    spans = [(i, tracer.spans[i]) for i in measured]
    ops = max(1, len(ctx.samples))
    op_time = sum(s["latency_s"] for s in ctx.samples) or 1.0
    v = dict.fromkeys(METRICS, 0.0)

    def total(name: str) -> float:
        return sum(tracer.duration(s) for _, s in spans if s["name"] == name)

    def count(name: str) -> int:
        return sum(1 for _, s in spans if s["name"] == name)

    rounds = ctx.setup_rounds
    v["setup.cold_s"] = rounds[0]["total_s"]
    v["session.get_spark_s"] = rounds[0]["get_spark_s"]
    v["registry.catalog_s"] = rounds[0]["catalog_s"]
    if "mirror_build_s" in rounds[0]:
        v["data.mirror_build_s"] = statistics.median(r["mirror_build_s"] for r in rounds)

    v["data.load_table_calls"] = count("data.load_table") / ops
    v["data.load_table_s"] = total("data.load_table") / ops
    v["data.schema_jobs"] = sum(
        tracer.subtree_jobs(i, kids) for i, s in spans if s["name"] == "data.load_table"
    ) / ops
    construct = sum(tracer.self_time(i, kids) for i, s in spans if s["name"] == "query.fn")
    v["queries.construct_s"] = construct / ops
    v["queries.construct_jobs"] = sum(
        tracer.subtree_jobs(i, kids) for i, s in spans if s["name"] == "query.fn"
    ) / ops

    materialize = total("scale.materialize")
    v["scale.materialize_calls"] = count("scale.materialize") / ops
    v["scale.materialize_s"] = materialize / ops
    cached = [s for _, s in spans if s["name"] == "scale.session_cached"]
    v["scale.session_cached_calls"] = len(cached) / ops
    if cached:
        v["scale.session_cache_hit_ratio"] = sum(s["hit"] for s in cached) / len(cached)
    v["scale.spread_calls"] = count("scale.spread") / ops

    actions = [s for _, s in spans if s["name"] == "exec.action"]
    if actions:
        v["exec.action_s"] = total("exec.action") / ops
        v["exec.jobs"] = sum(s["jobs"] for s in actions) / ops
        v["exec.tasks"] = sum(s["tasks"] for s in actions) / ops
        for key in _EXEC_SUMS:
            v[key] = sum(s.get(key, 0.0) for s in actions) / ops
        v["exec.peak_exec_mem_bytes"] = max(s.get("exec.peak_exec_mem_bytes", 0.0) for s in actions)
        v["split.construct_materialize_frac"] = (construct + materialize) / op_time

    stream = ctx.stream
    if stream is not None:
        parts = {
            "streaming.persist_s": "streaming.persist_stream",
            "streaming.quarantine_s": "streaming.quarantine_sink",
            "streaming.latest_view_s": "streaming.maintain_latest_view",
            "streaming.history_query_s": "streaming.history_query",
        }
        for key, span in parts.items():
            v[key] = total(span) / ops
        streaming = sum(
            total(n) for n in ("streaming.read_event_stream", "streaming.split_valid", *parts.values())
        )
        v["split.streaming_frac"] = streaming / op_time
        v["streaming.rows_quarantined"] = stream.malformed / ops
        v["streaming.ingest_rows_per_s"] = len(stream.history) / op_time
        v.update(ctx.store_stats)

    v["trace.overhead_frac"] = overhead_s / max(1e-9, wall - overhead_s)
    return {k: {"value": float(v[k]), "unit": u} for k, u in METRICS.items()}
