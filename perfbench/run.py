#!/usr/bin/env python3
"""The benchmark's one command. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload with one seed in a fresh
JVM, checks its outputs, and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is traced and the
metrics are the per-layer ones (perfbench/derive.py). The line before it
carries the workload-specific figures. Exit code 0 = outputs correct,
1 = a correctness check failed, 2 = build failed, 3 = the run broke.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import derive  # noqa: E402
import metrics  # noqa: E402

ROOT = HERE.parent
DATA = HERE / "data" / "sf0.001"
EXPECTED = HERE / "expected" / "batch.json"
DEADLINE_S = 170


class RunError(Exception):
    pass


def percentile(xs, q):
    """Nearest-rank percentile, refused unless at least ten samples lie
    beyond it — fewer would make the figure one sample's noise."""
    xs = sorted(xs)
    if len(xs) * (1 - q) < 10 - 1e-9:
        raise RunError(f"p{round(q * 100)} needs at least {int(10 / (1 - q))} samples, got {len(xs)}")
    if q == 0.5:
        return statistics.median(xs)
    return xs[math.ceil(q * len(xs)) - 1]


def interquartile_mean(xs):
    """Mean of the samples between the first and third quartile: the
    typical operation, steadier than the median when the samples are few
    and far apart (21 different queries)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return statistics.fmean(x for x in xs if q1 <= x <= q3)


def end_to_end(result):
    lat = result["latencies_ms"]
    return {
        "setup_s": result["start_s"] + result["setup_once_s"] + statistics.median(result["setup_reps_s"]),
        "latency_iqm_ms": interquartile_mean(lat),
        "latency_mean_ms": statistics.fmean(lat),
    }


def workload_info(result):
    """The figures only some workloads have, with their sample counts."""
    lat = result["latencies_ms"]
    info = {"samples": len(lat), "late_max_ms": max(result.get("late_ms") or [0.0]),
            "start_s": result["start_s"], "setup_once_s": result["setup_once_s"],
            "setup_reps_s": result["setup_reps_s"], "peak_rss_mb": result["peak_rss_kb"] / 1024.0}
    info["latency_p50_ms"] = percentile(lat, 0.5)
    if len(lat) >= 100:
        info["latency_p90_ms"] = percentile(lat, 0.9)
    serve = result.get("serve_latencies_ms")
    if serve:  # live_ingest: the dashboard mix under ingest
        info["serve_samples"] = len(serve)
        info["serve_p50_ms"] = percentile(serve, 0.5)
        info["serve_iqm_ms"] = interquartile_mean(serve)
        info["serve_mean_ms"] = statistics.fmean(serve)
    if result["workload"] != "batch_analytics":
        by_kind = {}
        for k, v in zip(result.get("serve_kinds", result["kinds"]), serve or lat):
            by_kind.setdefault(k, []).append(v)
        info["p50_ms_by_kind"] = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    rollup = result.get("fresh_rollup_ms")
    if rollup is not None:
        info["fresh_rollup_samples"] = len(rollup)
        if len(rollup) >= 20:
            info["fresh_rollup_p50_ms"] = percentile(rollup, 0.5)
    for key in ("catchup_rows_per_s", "store_bytes_per_row", "poll_misses", "pointer_misses",
                "store", "passes"):
        if key in result:
            info[key] = result[key]
    if result["workload"] == "batch_analytics":
        figs = derive.workload_figures(result)
        info["batch_total_s"] = figs["batch.total_s"]
        info["batch_geomean_s"] = figs["batch.geomean_s"]
        info["batch_construct_s"] = sum(result["construct_ms"]) / 1e3 / result["passes"]
        info["batch_action_s"] = sum(result["action_ms"]) / 1e3 / result["passes"]
    return info


def check_batch(result):
    """Batch outputs must hash as recorded at the seed commit."""
    want = json.loads(EXPECTED.read_text())
    problems = []
    if result.get("table_rows") != want["table_rows"]:
        problems.append(f"input tables differ: {result.get('table_rows')}")
    for q, h in want["hashes"].items():
        got = result.get("hashes", {}).get(q)
        if got != h:
            problems.append(f"{q}: output hash {got} != recorded {h}")
    return problems


def java_command(classes, work, args):
    jars = build.spark_jars()
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # a fixed heap: no resizing to differ from run to run
    return ["java", *build.ADD_OPENS, "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            # as in build.sbt: never let HotSpot give up compiling hot
            # interpreted-eval paths late in a long run
            "-XX:PerMethodRecompilationCutoff=-1", "-XX:PerBytecodeRecompilationCutoff=-1",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main", *args]


def run_jvm(classes, work, args, deadline, log):
    env = dict(os.environ, SPARK_GRAFT_NO_MEMO="1")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(java_command(classes, work, args), stdout=out, stderr=subprocess.STDOUT,
                                  env=env, cwd=ROOT, timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RunError("the JVM run exceeded its time limit")
    if proc.returncode != 0:
        raise RunError(f"the JVM exited {proc.returncode}")


def tail(path, n=40):
    try:
        return "".join(Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=metrics.ALL)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(subprocess.call([sys.executable, "-m", "unittest", "discover", "-s",
                                  str(HERE / "tests")]))
    if not a.workload:
        ap.error("--workload is required")
    deadline = time.monotonic() + DEADLINE_S
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

    # the run's directory is removed once its result is read, so runs do
    # not pile up stores; a run that breaks or fails a check keeps it, and
    # a traced run keeps its trace under .bench_build/traces
    work = ROOT / ".bench_build" / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = work / "result.json"
    log = work / "jvm.log"
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work), str(result_file)]
    if a.workload == "batch_analytics":
        args.append(str(DATA))
    try:
        run_jvm(classes, work, args, deadline, log)
        result = json.loads(result_file.read_text())
    except (RunError, OSError, ValueError) as e:
        print(f"run failed: {e}\n{tail(log)}", file=sys.stderr)
        sys.exit(3)
    problems = list(result["problems"])
    if "latencies_ms" not in result:  # the workload aborted
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        sys.exit(1)
    if a.workload == "batch_analytics":
        problems += check_batch(result)
    try:
        e2e = end_to_end(result)
        info = workload_info(result)
        if a.trace:
            layer = derive.derive(derive.load(result["trace_file"]), result)
            info["end_to_end_traced"] = e2e
    except (RunError, KeyError, ValueError) as e:
        print(f"run failed: {e}", file=sys.stderr)
        sys.exit(3)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if problems:
        info["run_dir"] = str(work.relative_to(ROOT))
    else:
        if a.trace:
            traces = ROOT / ".bench_build" / "traces"
            traces.mkdir(exist_ok=True)
            kept = shutil.move(result["trace_file"], traces / f"{work.name}.jsonl")
            info["trace_file"] = str(Path(kept).relative_to(ROOT))
        t0 = time.monotonic()
        shutil.rmtree(work)
        info["cleanup_s"] = time.monotonic() - t0
    if a.trace:
        reported = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in metrics.PER_LAYER}
    else:
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
        reported = {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "info": info}))
    print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": reported}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
