#!/usr/bin/env python3
"""Read the traced runs kept by perfbench/run.py and print, per workload,
the self time of each layer and the tracing overhead.

    python3 perfbench/trace_report.py [results dir]

The results dir defaults to $CARGO_TARGET_DIR/perfbench/results (or
.bench_build/perfbench/results). A traced run (--trace 1) carries its
spans; a layer's self time is the time its spans cover minus the time
covered by their direct children, so the rows of one workload add up to
the run's span time. The overhead compares each traced run with the
untraced runs of the same workload: the traced median latency_p50_s and
throughput_per_s against the untraced medians.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def self_times(spans):
    """Self seconds per layer from a list of span dicts (see Trace.scala)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(k["start_ms"], s["start_ms"]), min(k["end_ms"], s["end_ms"]))
                    for k in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        dur = s["end_ms"] - s["start_ms"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, dur - covered) / 1000.0
    return out


def load(results_dir):
    runs = []
    for f in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def median_of(runs, metric):
    vals = [r["end_to_end"][metric]["value"] for r in runs if metric in r.get("end_to_end", {})]
    return statistics.median(vals) if vals else None


def report(runs, out=sys.stdout):
    for wl in sorted({r["workload"] for r in runs}):
        traced = [r for r in runs if r["workload"] == wl and r["trace"] and "spans" in r]
        plain = [r for r in runs if r["workload"] == wl and not r["trace"]]
        print(f"== {wl}: {len(traced)} traced, {len(plain)} untraced runs", file=out)
        if traced:
            totals = {}
            for r in traced:
                for layer, t in self_times(r["spans"]).items():
                    totals.setdefault(layer, []).append(t)
            width = max(len(k) for k in totals)
            for layer, ts in sorted(totals.items(), key=lambda kv: -statistics.median(kv[1])):
                print(f"  self {layer:<{width}}  {statistics.median(ts):9.3f} s", file=out)
        for metric in ("latency_p50_s", "throughput_per_s"):
            t, u = median_of(traced, metric), median_of(plain, metric)
            if t is not None and u:
                print(f"  overhead {metric}: traced {t:.4g}, untraced {u:.4g} "
                      f"({(t - u) / u * 100:+.1f}%)", file=out)
            else:
                print(f"  overhead {metric}: needs traced and untraced runs", file=out)


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(build.build_dir(), "results")
    runs = load(d)
    if not runs:
        sys.exit(f"no results in {d}")
    report(runs)


if __name__ == "__main__":
    main()
