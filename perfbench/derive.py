"""Per-layer metrics from a traced run's artifact (JSON lines written by
the JVM side's Trace): spans around each layer call, Spark jobs tagged
with the span or streaming query that started them, per-stage task
metric sums, micro-batch progress events, executed-plan exchange counts
and a few counters. A span's self time is its duration minus the part
of it that its child spans cover.
"""
import json
import statistics
from collections import defaultdict

import metrics


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ns(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _mean(xs):
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def derive(records, result):
    """Every per-layer metric of the catalog, by name."""
    spans = {r["id"]: r for r in records if r["kind"] == "span"}
    children = defaultdict(list)
    for s in spans.values():
        children[s["parent"]].append(s)

    def dur_ms(s):
        return (s["t1"] - s["t0"]) / 1e6

    def self_ms(s):
        cover = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in children[s["id"]]]
        return dur_ms(s) - _union_ns([c for c in cover if c[1] > c[0]]) / 1e6

    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    jobs = [r for r in records if r["kind"] == "job"]
    stages = [r for r in records if r["kind"] == "stage"]
    job_span = {j["job"]: spans.get(int(j["span"])) if j.get("span") else None for j in jobs}
    stages_of = defaultdict(list)
    for st in stages:
        stages_of[st["job"]].append(st)

    def jobs_where(pred):
        return [j["job"] for j in jobs if job_span.get(j["job"]) and pred(job_span[j["job"]])]

    def stage_sum(job_ids, key):
        return sum(st[key] for j in job_ids for st in stages_of[j])

    counters = defaultdict(float)
    for r in records:
        if r["kind"] == "counter":
            counters[r["name"]] += r["value"]

    m = {}
    # serve.Grafana
    grafana = [s for s in spans.values() if s["name"].startswith("grafana.")]
    for name in ("query", "query_downsampled", "query_daily", "search"):
        m[f"grafana.{name}.self_ms"] = _mean(self_ms(s) for s in named(f"grafana.{name}"))
    g_jobs = jobs_where(lambda s: s["name"].startswith("grafana."))
    m["grafana.jobs_per_request"] = len(g_jobs) / len(grafana) if grafana else 0.0
    points = sum(s["attrs"].get("points", 0) for s in grafana)
    m["grafana.rows_read_per_point"] = stage_sum(g_jobs, "records") / points if points else 0.0
    m["grafana.response_bytes"] = _mean(s["attrs"]["bytes"] for s in grafana if "bytes" in s["attrs"])

    # serve.SnapshotCache
    renders = named("snapshotcache.render")
    render_ids = {s["id"] for s in renders}
    misses = sum(1 for s in named("grafana.query_daily") if s["parent"] in render_ids)
    m["snapshotcache.render_ms"] = _mean(self_ms(s) for s in renders)
    m["snapshotcache.hit_ratio"] = 1 - misses / len(renders) if renders else 0.0
    m["snapshotcache.resolves"] = len(named("snapshotcache.resolve"))
    m["snapshotcache.version_ms"] = _mean(dur_ms(s) for s in named("snapshotcache.version"))

    # streaming.RawStore
    reads = named("rawstore.read")
    m["rawstore.read_ms"] = _mean(dur_ms(s) for s in reads)
    m["rawstore.version_stamp_ms"] = _mean(dur_ms(s) for s in named("rawstore.version_stamp"))
    m["rawstore.files_per_read"] = _mean(s["attrs"]["files"] for s in reads if "files" in s["attrs"])
    m["rawstore.manifest_commits"] = counters["rawstore.manifest_commits"]

    # streaming.Collector and streaming.Rollup, from progress events
    roles = {r["id"]: r["role"] for r in records if r["kind"] == "stream"}
    for role in ("collector", "rollup"):
        ps = [r for r in records if r["kind"] == "progress"
              and roles.get(r["id"]) == role and r["rows"] > 0]
        m[f"{role}.batches"] = len(ps)
        m[f"{role}.trigger_ms"] = _mean(p["duration"].get("triggerExecution", 0) for p in ps)
        m[f"{role}.add_batch_ms"] = _mean(p["duration"].get("addBatch", 0) for p in ps)
        if role == "collector":
            m["collector.wal_commit_ms"] = _mean(p["duration"].get("walCommit", 0) for p in ps)
            m["collector.rows_per_batch"] = _mean(p["rows"] for p in ps)
    m["collector.backlog_files"] = _mean(r["files"] for r in records if r["kind"] == "backlog")
    m["rollup.publishes"] = counters["rollup.publishes"]
    m["rollup.snapshot_bytes"] = counters["rollup.snapshot_bytes"]

    # streaming.Retention and streaming.Compaction
    enforce = named("retention.enforce")
    m["retention.enforce_ms"] = _mean(dur_ms(s) for s in enforce)
    m["retention.days_dropped"] = sum(s["attrs"].get("dropped", 0) for s in enforce)
    m["retention.days_rewritten"] = sum(s["attrs"].get("rewritten", 0) for s in enforce)
    compact = named("compaction.compact")
    m["compaction.compact_ms"] = _mean(dur_ms(s) for s in compact)
    m["compaction.days_compacted"] = sum(s["attrs"].get("compacted", 0) for s in compact)
    m["compaction.files_removed"] = counters["compaction.files_removed"]

    # ops.<Module>: sums per timed pass
    passes = result.get("passes") or 1
    module_of = {}
    for s in spans.values():
        if s["name"].startswith("ops.") and "query" in s["attrs"]:
            module_of[s["attrs"]["query"]] = s["name"].split(".")[1]
    exch = defaultdict(int)
    for r in records:
        if r["kind"] == "qexec" and r["label"] in module_of:
            exch[module_of[r["label"]]] += r["exchanges"]
    for mod in metrics.OPS_MODULES:
        p = f"ops.{mod}."
        m[p + "construct_s"] = sum(dur_ms(s) for s in named(p + "construct")) / 1e3 / passes
        m[p + "action_s"] = sum(dur_ms(s) for s in named(p + "action")) / 1e3 / passes
        js = jobs_where(lambda s, p=p: s["name"].startswith(p))
        m[p + "jobs"] = len(js) / passes
        m[p + "tasks"] = stage_sum(js, "tasks") / passes
        m[p + "shuffle_bytes"] = stage_sum(js, "shuffle_write") / passes
        m[p + "spill_bytes"] = stage_sum(js, "spill") / passes
        m[p + "exchanges"] = exch[mod] / passes

    # the shared engine
    tasks = sum(st["tasks"] for st in stages)
    run_ms = sum(st["run_ms"] for st in stages)
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = tasks
    m["spark.task_cpu_ratio"] = sum(st["cpu_ns"] for st in stages) / 1e6 / run_ms if run_ms else 0.0
    m["spark.gc_ms"] = sum(st["gc_ms"] for st in stages)
    m["spark.scheduler_delay_ms"] = sum(st["sched_ms"] for st in stages) / tasks if tasks else 0.0
    m["spark.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)

    m["loadgen.late_ms"] = max(result.get("late_ms") or [0.0])
    m.update(workload_figures(result))
    return m


def workload_figures(result):
    """Workload-specific end-to-end figures (0 where the workload has none)."""
    lat = result.get("latencies_ms") or []
    serve, fo = result.get("serve_latencies_ms") or [], result.get("fresh_rollup_ms") or []
    per_pass = sum(lat) / 1e3 / (result.get("passes") or 1)
    return {
        "live.serve_p50_ms": statistics.median(serve) if serve else 0.0,
        "live.fresh_rollup_p50_ms": statistics.median(fo) if fo else 0.0,
        "live.catchup_rows_per_s": result.get("catchup_rows_per_s", 0.0),
        "live.store_bytes_per_row": result.get("store_bytes_per_row", 0.0),
        "batch.total_s": per_pass if result.get("passes") else 0.0,
        "batch.geomean_s": statistics.geometric_mean([x / 1e3 for x in lat])
        if result.get("passes") and lat else 0.0,
    }
