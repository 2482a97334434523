#!/usr/bin/env python3
"""Benchmark of the forage job and the operator registry.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload forage_national --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source when they changed, runs one
workload in one JVM (`local[nproc]`, heap sized from the host), checks the
outputs, and prints two JSON lines: a report with every metric, the run facts
and any failures, then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import forage_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "registry")
WORKLOADS = ("forage_national", "registry")
# Every process of a run must end within this many seconds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """A quarter of the host's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def source_files():
    """The files whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first when sources changed."""
    stamp = os.path.join(BUILD_DIR, "stamp.json")
    fp = fingerprint()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    print("perfbench: building the program and the harness", file=sys.stderr)
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def run_bounded(cmd, cwd, env, stdout, limit):
    """Runs cmd in its own process group and waits for it; kills the whole
    group when it outlives `limit` seconds. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:  # timed out, or this runner is being stopped
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks():
    """(stolen, total) CPU ticks of the host since boot: time a hypervisor
    gave the host's CPUs to other machines, which slows every timing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summarize(r, workload):
    """Every metric the run measured, by name: (value, unit, samples)."""
    ok = [o for o in r["outcomes"] if o["seconds"] is not None]
    if workload == "registry":
        # one latency per query: its median over the passes
        by_query = {}
        for o in ok:
            by_query.setdefault(o["op"], []).append(o["seconds"])
        lat = [statistics.median(v) for v in by_query.values()]
        passes = r["pass_seconds"]
    else:
        lat = passes = r["op_seconds"]
    failed = len(r["outcomes"]) - len(ok)
    cache = r.get("retained_cache_mb") or [0.0]
    return {
        "setup_s": (r["setup_s"], "s", 1),
        "job_s": (statistics.median(passes), "s", len(passes)),
        "query_p50_s": (statistics.median(lat), "s", len(lat)),
        "query_p95_s": (quantile(lat, 0.95), "s", len(lat)),
        "failed_frac": (failed / len(r["outcomes"]), "ratio", len(r["outcomes"])),
        "retained_cache_mb": (statistics.median(cache), "MB", len(cache)),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", 1),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: input size factor, deliberate failure
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--inject-failure", action="store_true")
    a = ap.parse_args()
    # stopped from outside, still stop and reap the benchmark process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    cp = classpath()

    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = []
    if a.workload == "forage_national":
        inputs = forage_inputs.generate(a.seed, a.scale,
                                        os.path.join(work, "inputs"), os.path.join(work, "out"))
        args = ["--inputs", os.path.join(work, "inputs", "inputs.json")]
    result_file = os.path.join(work, "result.json")
    heap = heap_gb()
    cmd = (["java", f"-Xmx{heap}g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--result", result_file, "--data", DATA_DIR,
              "--inject-failure", "1" if a.inject_failure else "0"] + args)
    log = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    with open(log, "w") as out:
        rc = run_bounded(cmd, cwd=work, env=dict(os.environ), stdout=out, limit=RUN_LIMIT_S)
    steal1, total1 = cpu_ticks()
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark process failed (exit {rc}); log in {log}")
    with open(result_file) as f:
        r = json.load(f)

    failures = [o for o in r["outcomes"] if o["error"] is not None]
    if not r["op_seconds"]:
        fail(f"no operation succeeded: {failures[:3]}")
    measured = summarize(r, a.workload)
    if a.trace:
        layer = r["layer_metrics"]
        # a layer the workload does not drive reads 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(r["spans"], f)
    else:
        metrics = {m["name"]: {"value": float(measured[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    facts = dict(r["facts"], git_commit=git_commit(), workload=a.workload, heap=f"{heap}g",
                 confs=r["confs"], setup=r["setup"],
                 inputs=inputs["facts"] if args else r["inputs"],
                 host_steal_frac=(steal1 - steal0) / max(1, total1 - total0))
    print(json.dumps({
        "report": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in measured.items()},
        "facts": facts,
        "failures": [{"op": o["op"], "error": o["error"]} for o in failures],
    }))
    # leave only the small files of the run behind
    shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": len(r["outcomes"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
