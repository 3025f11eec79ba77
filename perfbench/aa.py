#!/usr/bin/env python3
"""A/A steadiness tool: runs each workload N times per set, each run with
its own seed, alternating the workload order from round to round, and
prints each end-to-end metric's median, quartiles and spread (the
distance between the quartiles as a share of the median, as
statistics.quantiles(values, n=4) gives them). With --sets 2 it also
checks that the two sets of the same code agree: each metric's second
median may differ from the first by no more than the metric's bound.
--trace-overhead adds one traced run per workload and seed and reports
its end-to-end figures against the untraced medians.

    python3 perfbench/aa.py --runs 10 --sets 2 --seed0 1000
    python3 perfbench/aa.py --workloads live_ingest --runs 5
    python3 perfbench/aa.py --runs 10 --sets 2 --record perfbench/baseline.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

BOUNDS = {n: b for n, _, _, b in metrics.END_TO_END}


def run_once(workload, seed, trace=0):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(metrics.RUN_SECONDS),
                        "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=HERE.parent)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    final = json.loads(lines[-1])
    info = json.loads(lines[-2])["info"]
    if not final["correct"] or final["failed"]:
        print(f"  {workload} seed {seed}: correct={final['correct']} failed={final['failed']}",
              file=sys.stderr)
    return final, info, time.monotonic() - t0


def summary(values):
    """Median, quartiles and spread; `trend` is the median of the set's
    second half minus that of its first half, as a share of the median,
    so a set whose figures drift with run order shows it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    h = len(values) // 2
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "trend": (statistics.median(values[-h:]) - statistics.median(values[:h])) / med,
            "n": len(values), "values": values}


def run_set(workloads, runs, seed0, trace_overhead):
    vals = {w: {} for w in workloads}
    traced = {w: [] for w in workloads}
    wall = {w: [] for w in workloads}
    for i in range(runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            final, info, secs = run_once(w, seed0 + i)
            wall[w].append(secs)
            for name, m in final["metrics"].items():
                vals[w].setdefault(name, []).append(m["value"])
            print(f"  {w} seed {seed0 + i}: " + " ".join(
                f"{n}={m['value']:.4g}" for n, m in final["metrics"].items()) + f" wall={secs:.0f}s"
                + "".join(f" {k}={info[k]:.4g}" for k in ("latency_p50_ms", "serve_iqm_ms",
                                                          "fresh_rollup_p50_ms",
                                                          "catchup_rows_per_s", "pointer_misses",
                                                          "cleanup_s")
                        if k in info),
                flush=True)
            if trace_overhead:
                _, tinfo, _ = run_once(w, seed0 + i, trace=1)
                traced[w].append(tinfo["end_to_end_traced"])
    out = {w: {n: summary(v) for n, v in vals[w].items()} for w in workloads}
    for w in workloads:
        out[w]["wall_s"] = summary(wall[w])
        if traced[w]:
            out[w]["trace_overhead"] = {
                n: statistics.median(t[n] for t in traced[w]) / out[w][n]["median"]
                for n in BOUNDS}
    return out


def report(title, res):
    print(title)
    for w, ms in res.items():
        for n, s in ms.items():
            if n == "trace_overhead":
                print(f"  {w:16s} tracing overhead (traced/untraced median): " +
                      ", ".join(f"{k} x{v:.3f}" for k, v in s.items()))
                continue
            flag = ""
            if n in BOUNDS and n != "setup_s":
                flag = "ok" if s["spread"] <= BOUNDS[n] / 3 else (
                    "within bound" if s["spread"] <= BOUNDS[n] else "TOO WIDE")
            print(f"  {w:16s} {n:16s} median {s['median']:10.4g}  q1 {s['q1']:10.4g}  "
                  f"q3 {s['q3']:10.4g}  spread {s['spread']:.3f}  trend {s['trend']:+.3f} {flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(metrics.ALL))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace-overhead", action="store_true")
    ap.add_argument("--record", help="write every set's figures and their agreement to this JSON file")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    sets = []
    for s in range(a.sets):
        print(f"set {s + 1}: {a.runs} runs per workload, seeds {a.seed0 + s * a.runs}..",
              flush=True)
        sets.append(run_set(workloads, a.runs, a.seed0 + s * a.runs,
                            a.trace_overhead and s == 0))
        report(f"set {s + 1}", sets[-1])
    agree = True
    agreement = {}
    if len(sets) > 1:
        print("set 2 against set 1 (median change as a share of set 1's median):")
        for w in workloads:
            for n, bound in BOUNDS.items():
                m1, m2 = sets[0][w][n]["median"], sets[1][w][n]["median"]
                d = (m2 - m1) / m1
                ok = abs(d) <= bound
                agree &= ok
                agreement.setdefault(w, {})[n] = d
                print(f"  {w:16s} {n:16s} {d:+.3f} (bound {bound}) {'ok' if ok else 'DISAGREE'}")
    if a.record:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                cwd=HERE.parent).stdout.strip() or None
        Path(a.record).write_text(json.dumps({
            "commit": commit, "run_seconds": metrics.RUN_SECONDS,
            "seeds": [a.seed0 + i for i in range(a.runs * a.sets)],
            "sets": sets, "set2_vs_set1": agreement}, indent=1) + "\n")
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()
