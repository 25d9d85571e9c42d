"""Per-layer metrics of a traced run.

Each metric names the layer it measures; `LAYER_MAP` says which
end-to-end metric on which workload it should move. A layer that does
not run in a workload reports 0 there.

Normalisation: span timings are mean ms per call; counters are per call
of the span that owns them; Spark shape, Catalyst phases, kernel time,
layer self time and call counts are per traced op (a warm query run, or
a CDC micro-batch).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

#: (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_ms", "ms"),
    ("lake.write_table_ms", "ms"), ("lake.files_written", "count"),
    ("lake.partitions_written", "count"), ("lake.register_table_ms", "ms"),
    ("ddbjson.read_export_build_ms", "ms"),
    ("cdc.trigger_ms", "ms"), ("cdc.latest_offset_ms", "ms"), ("cdc.get_batch_ms", "ms"),
    ("cdc.query_planning_ms", "ms"), ("cdc.add_batch_ms", "ms"), ("cdc.offset_log_ms", "ms"),
    ("cdc.rows_per_batch", "rows"), ("cdc.batches", "count"),
    ("merge.merge_ms", "ms"), ("merge.recover_ms", "ms"), ("merge.touched_partitions_ms", "ms"),
    ("merge.upsert_build_ms", "ms"), ("merge.stage_write_ms", "ms"), ("merge.apply_commit_ms", "ms"),
    ("merge.touched_partitions", "count"), ("merge.files_staged", "count"),
    ("merge.files_removed", "count"), ("merge.commit_retries", "count"),
    ("merge.rows_rewritten_per_event", "ratio"),
    ("deltatable.current_version_ms", "ms"), ("deltatable.current_version_calls", "count"),
    ("deltatable.committed_touched_ms", "ms"), ("deltatable.committed_touched_calls", "count"),
    ("deltatable.append_commit_ms", "ms"), ("deltatable.append_commit_calls", "count"),
    ("deltatable.checkpoint_ms", "ms"), ("deltatable.checkpoint_calls", "count"),
    ("deltatable.checkpoints", "count"),
    ("deltatable.data_files_under_ms", "ms"), ("deltatable.data_files_under_calls", "count"),
    ("deltatable.log_versions", "count"),
    ("diff.compare_ms", "ms"), ("diff.rows_compared", "rows"),
    ("catalog.build_ms", "ms"), ("lake.load_table_ms", "ms"), ("lake.load_table_calls", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("spark.exec_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.listing_jobs", "count"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.slot_idle_ms", "ms"), ("spark.failed_tasks", "count"),
    ("spark.persistent_rdds", "count"),
    ("llm.kernel_ms", "ms"), ("llm.kernel_calls", "count"),
    ("self.cdc_ms", "ms"), ("self.merge_ms", "ms"), ("self.deltatable_ms", "ms"),
    ("self.lake_ms", "ms"), ("self.catalog_ms", "ms"), ("self.action_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]

#: layer metric prefix -> the end-to-end metrics (workload) it should move;
#: setup_s and cpu_s_per_op are gated, the others are summary-line metrics
LAYER_MAP = {
    "session": "setup_s on every workload",
    "lake (write side), ddbjson": "initial_load_s on cdc_ingest; lake.register_table runs "
                                  "once after validate, untimed",
    "cdc": "cpu_s_per_op, cdc_batch_s_p50 and cdc_events_per_s on cdc_ingest",
    "merge": "cpu_s_per_op and cdc_batch_s_p50 on cdc_ingest",
    "deltatable": "cdc_batch_s_p50 and cpu_s_per_op on cdc_ingest through the per-batch log "
                  "calls; a checkpoint (every 10 commits) slows one of a run's 8 timed "
                  "batches, so it moves cdc_events_per_s and cpu_s_per_op, not the median, "
                  "and shows in the traced deltatable.checkpoint_ms",
    "diff": "validate_s on cdc_ingest",
    "catalog, lake.load_table, catalyst": "query_s_p50, queries_per_s and cpu_s_per_op "
                                          "on llm_curation",
    "spark": "executor cpu: cpu_s_per_op on both; shuffle counts: query_s_p50 on "
             "llm_curation; listing jobs: cdc_batch_s_p50 on cdc_ingest; "
             "persistent_rdds: peak_rss_mb",
    "llm": "cpu_s_per_op and query_s_p50 on llm_curation; zero on cdc_ingest",
}

_SPANS = {
    "lake.write_table_ms": "lake.write_table", "lake.register_table_ms": "lake.register_table",
    "ddbjson.read_export_build_ms": "ddbjson.read_export_build",
    "merge.merge_ms": "merge.merge", "merge.recover_ms": "merge.recover",
    "merge.touched_partitions_ms": "merge.touched_partitions",
    "merge.upsert_build_ms": "merge.upsert_build", "merge.apply_commit_ms": "merge.apply_commit",
    "deltatable.current_version_ms": "deltatable.current_version",
    "deltatable.committed_touched_ms": "deltatable.committed_touched",
    "deltatable.append_commit_ms": "deltatable.append_commit",
    "deltatable.checkpoint_ms": "deltatable.checkpoint",
    "deltatable.data_files_under_ms": "deltatable.data_files_under",
    "diff.compare_ms": "diff.compare", "lake.load_table_ms": "lake.load_table",
}
_SELF_LAYERS = {"cdc": "self.cdc_ms", "merge": "self.merge_ms", "deltatable": "self.deltatable_ms",
                "lake": "self.lake_ms", "catalog": "self.catalog_ms", "op": "self.action_ms"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, session_ms: float) -> dict:
    tr = run.tracer
    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    incl, self_ms, calls = tr.span_totals()
    for metric, span in _SPANS.items():
        if calls.get(span):
            m[metric] = incl[span] / calls[span]
    m["merge.stage_write_ms"] = self_ms.get("merge.merge", 0.0) / max(calls.get("merge.merge", 0), 1)
    m["session.start_ms"] = session_ms

    # counters per call of their owning span
    c = tr.counts
    for key, span in (("lake.files_written", "lake.write_table"),
                      ("lake.partitions_written", "lake.write_table"),
                      ("merge.touched_partitions", "merge.merge"),
                      ("merge.files_staged", "merge.merge"),
                      ("merge.files_removed", "merge.merge"),
                      ("merge.commit_retries", "merge.merge"),
                      ("diff.rows_compared", "diff.compare")):
        if calls.get(span):
            m[key] = c.get(key, 0) / calls[span]

    # traced ops: warm query runs, or CDC micro-batches
    batch_ops = run.extra.get("batch_ops") or {}
    prog = run.extra.get("progress")  # set by cdc_ingest only
    if prog is not None:
        ops = [r for r in batch_ops.values() if r.get("shape") is not None]
    else:
        ops = [r for r in tr.ops if r["traced"] and not r["cold"]]
    op_ids = {r["op"] for r in ops}
    n_ops = len(ops)
    run.extra["traced_ops"] = n_ops
    for k in ("exec_ms", "jobs", "stages", "tasks", "listing_jobs", "shuffle_read_bytes",
              "shuffle_write_bytes", "input_bytes", "output_bytes", "executor_run_ms",
              "executor_cpu_ms", "slot_idle_ms", "failed_tasks"):
        m[f"spark.{k}"] = _mean(r["shape"][k] for r in ops)
    m["spark.persistent_rdds"] = max((r.get("persistent_rdds", 0) for r in ops), default=0)
    qops = [r for r in ops if "build_ms" in r]
    m["catalog.build_ms"] = _mean(r["build_ms"] for r in qops)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _mean(r["catalyst"][ph] for r in qops)
    m["llm.kernel_ms"] = _mean(sum(ms for ms, _ in r.get("kernels", {}).values()) for r in qops)
    m["llm.kernel_calls"] = _mean(sum(n for _, n in r.get("kernels", {}).values()) for r in qops)

    # call counts per traced op (spans recorded under those ops only)
    per_op_calls: dict[str, int] = defaultdict(int)
    self_by_layer: dict[str, float] = defaultdict(float)
    child: dict[int, float] = defaultdict(float)
    for s in tr.spans:
        if s["end"] is not None and s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    for i, s in enumerate(tr.spans):
        if s["end"] is None or s["op"] not in op_ids:
            continue
        per_op_calls[s["name"]] += 1
        layer = s["name"].split(".")[0]
        self_by_layer[layer] += (s["end"] - s["start"] - child[i]) * 1e3
    if n_ops:
        for name in ("current_version", "committed_touched", "append_commit", "checkpoint",
                     "data_files_under"):
            m[f"deltatable.{name}_calls"] = per_op_calls[f"deltatable.{name}"] / n_ops
        m["lake.load_table_calls"] = per_op_calls["lake.load_table"] / n_ops
        for layer, metric in _SELF_LAYERS.items():
            m[metric] = self_by_layer.get(layer, 0.0) / n_ops
    m["deltatable.checkpoints"] = c.get("deltatable.checkpoints", 0)
    m["deltatable.log_versions"] = run.extra.get("log_versions", 0)

    # cdc: StreamingQueryProgress.durationMs per batch
    if prog:
        for k in ("trigger_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms",
                  "add_batch_ms", "offset_log_ms"):
            m[f"cdc.{k}"] = _mean(p[k] for p in prog)
        m["cdc.rows_per_batch"] = _mean(p["rows"] for p in prog)
        m["cdc.batches"] = len(prog)
        # events, not numInputRows: the batch body scans its source twice
        events = run.extra["events_per_batch"] * n_ops
        if events:
            m["merge.rows_rewritten_per_event"] = c.get("merge.rows_staged", 0) / events

    on = [x for x, f in zip(run.latencies, run.traced_flags) if f]
    off = [x for x, f in zip(run.latencies, run.traced_flags) if not f]
    if on and off:
        m["trace.overhead_ms"] = (statistics.median(on) - statistics.median(off)) * 1e3
    units = dict(PER_LAYER)
    return {k: (float(v), units[k]) for k, v in m.items()}
