#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload fraud_stream --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), starts one JVM at
local[nproc], runs the named workload on inputs made from the seed, checks
its outputs and prints, as the last line of standard output, one JSON
object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the run registers the listeners and the state-store decorator
and the metrics are the per-layer ones. The full result (every metric,
the checks, provenance and, traced, the spans) is kept in
<build dir>/results/ for perfbench/trace_report.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("fraud_stream", "curation_stream", "query_suite")
# Per-layer metrics by the prefix of their name: the ones every workload
# measures, and the ones only its own workload measures. A traced run
# fails when it misses one it owns, and reports 0 for another workload's
# layer, which it does not exercise.
COMMON_LAYERS = ("spark.", "host.", "jvm.", "setup.")
OWN_LAYERS = {
    "fraud_stream": ("ingest.", "stream.", "state.", "runner.", "ops."),
    # the traced query_suite run also carries the curation layers, since
    # curation_stream is not a registered workload
    "query_suite": ("suite.", "caches.", "curation.", "llm.", "index."),
    "curation_stream": ("curation.", "llm.", "index."),
}
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return json.load(fh)


def git_sha():
    # only the checkout's own repository: git would otherwise search the
    # parent directories
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cmd, deadline):
    """Run the benchmark JVM in its own process group; kill the group and
    wait for it if it outlives the deadline. JVM output goes to stderr."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("benchmark JVM ran past its time limit and was stopped", 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_main(cp, main_class, name, args, deadline):
    """Run `main_class --work DIR --out FILE args` in one JVM with a fresh
    work dir under the build dir; return the JSON it wrote to FILE. The
    work dir is removed however the run ends."""
    work = os.path.join(build.build_dir(), "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd += ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, main_class,
            "--work", work, "--out", result_file] + list(args)
    try:
        rc = run_jvm(cmd, deadline)
        if rc != 0 or not os.path.isfile(result_file):
            fail(f"benchmark JVM exited with code {rc} and no result", 1)
        with open(result_file) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(cp, workload, seed, seconds, trace, deadline, extra=()):
    """One benchmark JVM running one workload; returns its full result."""
    return run_main(cp, "perfbench.Main", f"{workload}-{seed}",
                    ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", str(trace), "--repo", ROOT] + list(extra), deadline)


def main():
    t_start = time.time()
    # a terminated run still stops and waits for its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    try:
        classes, digest = build.build()
        cp = build.classpath(classes)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    # the first run in a checkout also pays the build; the JVM itself gets
    # the same limit in every run
    deadline = time.time() + RUN_LIMIT_S

    cpu0 = cpu_times()
    res = run_workload(cp, args.workload, args.seed, args.seconds, args.trace, deadline)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests during the run: a run in
    # a steal window shows it in its own result
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]) if cpu0 and cpu1 else 0.0
    res["per_layer"]["host.steal_share"] = {"value": steal, "unit": "share"}
    res["provenance"].update({
        "host_steal_share": steal,
        "git_sha": git_sha(), "source_sha256": digest,
        "nproc_affinity": len(os.sched_getaffinity(0)), "heap": HEAP,
        "wall_s": round(time.time() - t_start, 3)})
    group = "per_layer" if args.trace else "end_to_end"
    have = res[group]
    owned = COMMON_LAYERS + OWN_LAYERS[args.workload]
    metrics = {}
    for m in bench[group]:
        if m["name"] not in have:
            if not args.trace or m["name"].startswith(owned):
                fail(f"workload did not measure {m['name']}", 1)
            # another workload's layer: this one spends no time there
            have[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        got = have[m["name"]]
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}", 1)
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}

    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t_start))
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"),
              "w") as fh:
        json.dump(res, fh)
    for c in res["checks"]:
        if not c["ok"]:
            print(f"[perfbench] check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"provenance": res["provenance"], "checks": res["checks"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
