#!/usr/bin/env python3
"""The benchmark's metric catalog: every workload, every end-to-end and
per-layer metric with its unit and direction, and for each per-layer
metric the layer it belongs to, the end-to-end metric it should move
(and on which workload) and the workloads where its layer is idle, so
the prediction there is no change. BENCHMARK.json is this catalog's
projection; `python3 perfbench/metrics.py` prints that projection.
"""
import json
import re

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = [
    ("dashboard_read",
     "open-loop Grafana reads over a static 270k-point store: loads the serve path and the RawStore resolver"),
    ("live_ingest",
     "backlog catch-up, then 10k rows/s ingest with rollup publish and maintenance beside reads; timed: drop-to-panel freshness"),
    ("batch_analytics",
     "timed passes over 21 SparkEntry queries covering every ops module; serve and streaming idle"),
]
ALL = [w for w, _ in WORKLOADS]

# End-to-end metrics are reported by every workload. "latency" is the
# workload's user-facing operation: a Grafana request timed from its due
# time (dashboard_read), a dropped file's rows reaching a raw panel
# (live_ingest), or one query's construction plus action
# (batch_analytics). Bounds come from A/A runs (perfbench/aa.py).
END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("latency_iqm_ms", "ms", "lower", 0.25),
    ("latency_mean_ms", "ms", "lower", 0.25),
]


def _layer(layer, idle, moves, *metrics):
    return [dict(name=n, unit=u, better=b, layer=layer, moves=moves, idle=idle)
            for n, u, b in metrics]


SERVE_MOVES = "latency_iqm_ms and latency_mean_ms on dashboard_read"
OPS_MODULES = ["Reference", "Relational", "Windows", "Extensions", "Dedup",
               "TextAnalysis", "Similarity", "Multimodal", "TrainingPipeline"]

PER_LAYER = (
    _layer("serve.Grafana", ["batch_analytics"], SERVE_MOVES,
           ("grafana.query.self_ms", "ms", "lower"),
           ("grafana.query_downsampled.self_ms", "ms", "lower"),
           ("grafana.query_daily.self_ms", "ms", "lower"),
           ("grafana.search.self_ms", "ms", "lower"),
           ("grafana.jobs_per_request", "jobs", "lower"),
           ("grafana.rows_read_per_point", "ratio", "lower"),
           ("grafana.response_bytes", "B", "lower"))
    + _layer("serve.SnapshotCache", ["batch_analytics"],
             "latency_iqm_ms on dashboard_read; must not raise live.fresh_rollup_p50_ms on live_ingest",
             ("snapshotcache.render_ms", "ms", "lower"),
             ("snapshotcache.hit_ratio", "ratio", "higher"),
             ("snapshotcache.resolves", "count", "lower"),
             ("snapshotcache.version_ms", "ms", "lower"))
    + _layer("streaming.RawStore", ["batch_analytics"],
             "latency_iqm_ms on dashboard_read (raw share) and on live_ingest (raw freshness)",
             ("rawstore.read_ms", "ms", "lower"),
             ("rawstore.version_stamp_ms", "ms", "lower"),
             ("rawstore.files_per_read", "count", "lower"),
             ("rawstore.manifest_commits", "count", "lower"))
    + _layer("streaming.Collector", ["dashboard_read", "batch_analytics"],
             "latency_iqm_ms (raw freshness) and live.catchup_rows_per_s on live_ingest; setup_s on dashboard_read",
             ("collector.batches", "count", "higher"),
             ("collector.trigger_ms", "ms", "lower"),
             ("collector.add_batch_ms", "ms", "lower"),
             ("collector.wal_commit_ms", "ms", "lower"),
             ("collector.rows_per_batch", "rows", "lower"),
             ("collector.backlog_files", "count", "lower"))
    + _layer("streaming.Rollup", ["dashboard_read", "batch_analytics"],
             "live.fresh_rollup_p50_ms and live.catchup_rows_per_s on live_ingest",
             ("rollup.batches", "count", "higher"),
             ("rollup.trigger_ms", "ms", "lower"),
             ("rollup.add_batch_ms", "ms", "lower"),
             ("rollup.publishes", "count", "higher"),
             ("rollup.snapshot_bytes", "B", "lower"))
    + _layer("streaming.Retention", ["dashboard_read", "batch_analytics"],
             "latency_mean_ms and live.serve_p50_ms (foreground stalls), live.store_bytes_per_row on live_ingest",
             ("retention.enforce_ms", "ms", "lower"),
             ("retention.days_dropped", "count", "higher"),
             ("retention.days_rewritten", "count", "lower"))
    + _layer("streaming.Compaction", ["dashboard_read", "batch_analytics"],
             "rawstore.files_per_read, and through it latency_iqm_ms and live.serve_p50_ms on live_ingest",
             ("compaction.compact_ms", "ms", "lower"),
             ("compaction.days_compacted", "count", "higher"),
             ("compaction.files_removed", "count", "higher"))
    + [m for mod in OPS_MODULES for m in _layer(
        f"ops.{mod}", ["dashboard_read", "live_ingest"],
        "latency_mean_ms (and batch.total_s) on batch_analytics"
        if mod in ("TrainingPipeline", "Dedup", "TextAnalysis")
        else "latency_iqm_ms (and batch.geomean_s) on batch_analytics",
        (f"ops.{mod}.construct_s", "s", "lower"),
        (f"ops.{mod}.action_s", "s", "lower"),
        (f"ops.{mod}.jobs", "jobs", "lower"),
        (f"ops.{mod}.tasks", "tasks", "lower"),
        (f"ops.{mod}.shuffle_bytes", "B", "lower"),
        (f"ops.{mod}.spill_bytes", "B", "lower"),
        (f"ops.{mod}.exchanges", "count", "lower"))]
    + _layer("spark", [], "whichever end-to-end metric its workload reports",
             ("spark.jobs", "jobs", "lower"),
             ("spark.tasks", "tasks", "lower"),
             ("spark.task_cpu_ratio", "ratio", "higher"),
             ("spark.gc_ms", "ms", "lower"),
             ("spark.scheduler_delay_ms", "ms", "lower"),
             ("spark.shuffle_write_bytes", "B", "lower"))
    + _layer("loadgen", ["batch_analytics"], "none: health of the measurement",
             ("loadgen.late_ms", "ms", "lower"))
    # workload-specific end-to-end figures that not every workload has;
    # the untraced run prints them on its info line too
    + _layer("live_ingest", ["dashboard_read", "batch_analytics"], "itself, on live_ingest",
             ("live.serve_p50_ms", "ms", "lower"),
             ("live.fresh_rollup_p50_ms", "ms", "lower"),
             ("live.catchup_rows_per_s", "rows/s", "higher"),
             ("live.store_bytes_per_row", "B/row", "lower"))
    + _layer("batch_analytics", ["dashboard_read", "live_ingest"], "itself, on batch_analytics",
             ("batch.total_s", "s", "lower"),
             ("batch.geomean_s", "s", "lower"))
)


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": m["name"], "unit": m["unit"], "better": m["better"]}
                      for m in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
