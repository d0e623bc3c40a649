#!/usr/bin/env python3
"""Splits a JFR recording's CPU samples of the main thread by layer.

Usage: python3 tools/jfr_split.py RECORDING.jfr [--under FRAME]

Reads the recording's jdk.ExecutionSample events with the JDK's `jfr`
tool and keeps the samples of the `main` thread (the thread the
benchmark's closed loop runs in) whose stack holds a frame starting
with FRAME (default `graft.streaming.HashGatedPoller.poll`: the `sync`
ticks). Each kept sample goes to one layer:

- `benchmark model`: under `bench.SyncModel` (the benchmark's own
  store-vs-model bookkeeping);
- `createDataFrame`: under `SparkSession.createDataFrame` (the batch
  frames and the snapshot loaders' frames);
- else the library of the innermost frame that is not JDK or Scala
  runtime code: `Derby`, `Spark` (with its shaded Guava and its ANTLR
  parser), `graft` or `benchmark`, or `JDK` when every frame is.

It prints each layer's share, then the share of samples whose stack
holds each of a few markers (the analyzer, `LocalRows`, a `Dataset`
select), with the sample counts they are shares of.

Recording, with no change to the benchmark (the `java` launcher reads
JDK_JAVA_OPTIONS):

    JDK_JAVA_OPTIONS="-XX:StartFlightRecording=filename=/tmp/sync.jfr,settings=profile,jdk.ExecutionSample#period=1ms" \\
      python3 benchmark/run.py --workload sync --seed 7 --seconds 10 --trace 0
"""
import argparse
import collections
import re
import subprocess

LIBRARIES = [("org.apache.derby.", "Derby"), ("org.apache.spark.", "Spark"),
             ("org.sparkproject.", "Spark"), ("org.antlr.", "Spark"),
             ("graft.", "graft"), ("bench.", "benchmark")]
RUNTIME = ("java.", "jdk.", "sun.", "scala.", "com.sun.")
MARKERS = [("analyzer", "org.apache.spark.sql.catalyst.analysis.Analyzer"),
           ("LocalRows", "graft.sources.LocalRows"),
           ("Dataset.select", "org.apache.spark.sql.classic.Dataset.select")]


def samples(path):
    """Yields the stack (innermost frame first) of each sample of `main`."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "512", path],
                         check=True, capture_output=True, text=True).stdout
    for event in out.split("jdk.ExecutionSample {")[1:]:
        m = re.search(r'sampledThread = "([^"]*)"', event)
        if not m or m.group(1) != "main":
            continue
        yield [line.strip().split("(")[0] for line in event.split("stackTrace = [")[1]
               .split("]")[0].splitlines() if line.strip() and line.strip() != "..."]


def layer(stack):
    if any(f.startswith("bench.SyncModel") for f in stack):
        return "benchmark model"
    if any(".SparkSession.createDataFrame" in f for f in stack):
        return "createDataFrame"
    for f in stack:
        if not f.startswith(RUNTIME):
            return next((name for prefix, name in LIBRARIES if f.startswith(prefix)), "other")
    return "JDK"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--under", default="graft.streaming.HashGatedPoller.poll")
    a = ap.parse_args()
    kept = [s for s in samples(a.recording) if any(f.startswith(a.under) for f in s)]
    n = len(kept)
    print(f"{n} samples of thread main under {a.under}")
    if not n:
        return
    for name, k in collections.Counter(layer(s) for s in kept).most_common():
        print(f"  {name:16s} {k:6d}  {k / n:6.1%}")
    for name, frame in MARKERS:
        k = sum(any(f.startswith(frame) for f in s) for s in kept)
        print(f"  under {name:16s} {k:6d}  {k / n:6.1%}")


if __name__ == "__main__":
    main()
