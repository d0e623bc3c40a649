#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 benchmark/run.py --workload sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
the checkout's sources (sbt, offline) and the benchmark package beside
it; later runs reuse the build while the sources are unchanged. Each
run starts one JVM that sets the workload up from the seed, runs its
closed loop for --seconds, checks the outputs, and reports. The last
line on stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
of a traced run, plus the tracing overhead against the untraced run of
the same workload and seed. Exit status is 0 only when every check
passed and no op failed.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("sync", "query_surface")
# query_surface's input: the repository's generated dataset at this scale
QUERY_SF = "0.01"
# wall allowed per invocation after the build, so the command ends
# within three minutes even when a traced run also needs its untraced twin
RUN_LIMIT_S = 170
# A fixed heap and young generation, so the peak resident set does not
# follow the collector's adaptive sizing from run to run.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Fingerprint of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Builds unless the sources are unchanged; returns their stamp."""
    stamp_file = os.path.join(TARGET, "build-stamp.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    log("building the program and the benchmark (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def run_jvm(workload, seed, seconds, trace, work, t0, data, deadline):
    cp = open(os.path.join(TARGET, "runtime-classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(TARGET, "jvm-options.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    cores = min(4, os.cpu_count() or 1)
    # temporary files (native libraries, Spark artifacts) stay in the run's directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opts, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-cp", cp, "bench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--t0", repr(t0), "--cores", str(cores)]
    if data:
        cmd += ["--data", data]
    with subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr) as p:
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"{workload} run exceeded {RUN_LIMIT_S} s")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.exit(f"{workload} run failed (JVM exit {rc})")
    return json.load(open(result))


def oracle_check(data, dump):
    """The repository's DuckDB oracle compare over the dumped results."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with contextlib.redirect_stdout(sys.stderr):
        return mod.main(data, dump)


def measure(workload, seed, seconds, trace, t0, deadline):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = None
        if workload == "query_surface":
            data = os.path.join(work, "data")
            subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"),
                            QUERY_SF, data], check=True, stdout=sys.stderr)
        res = run_jvm(workload, seed, seconds, trace, work, t0, data, deadline)
        if workload == "query_surface" and not oracle_check(data, os.path.join(work, "dump")):
            res["correct"] = False
            res["problems"].append("query results differ from the DuckDB oracle")
        if trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            dest = os.path.join(trace_dir, f"{workload}-{seed}.jsonl")
            shutil.copy(os.path.join(work, "trace.jsonl"), dest)
            log(f"spans written to {dest}")
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("no program sources beside the benchmark: run from a full checkout")
    stamp = build()
    deadline = time.time() + RUN_LIMIT_S
    res = measure(a.workload, a.seed, a.seconds, a.trace, time.time(), deadline)

    # the untraced twin of a traced run must come from the same build
    cached = os.path.join(BUILD, "results",
                          f"{a.workload}-{a.seed}-{a.seconds}-{stamp[:16]}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        with open(cached, "w") as f:
            json.dump(res, f)
    else:
        # tracing overhead: traced minus untraced end-to-end readings
        # for this workload and seed
        if os.path.exists(cached):
            base = json.load(open(cached))
        else:
            log("no untraced run of this workload and seed yet; running one for the overhead")
            base = measure(a.workload, a.seed, a.seconds, 0, time.time(), deadline)
        for m, v in res["e2e"].items():
            res["metrics"][f"overhead.{m}"] = {
                "value": v["value"] - base["e2e"][m]["value"], "unit": v["unit"]}

    for k, v in res["readings"].items():
        print(f"{a.workload}.{k} = {v['value']:.6g} {v['unit']}")
    print(f"run: {json.dumps(res['run'])}")
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
