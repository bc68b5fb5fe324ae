#!/usr/bin/env python3
"""Benchmark of the graft audit-sessionization pipeline and registry gates.

    python3 perfbench/run.py --workload kernel --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the repository and
the benchmark (`perfbench/build.py`); later runs reuse the classes. One JVM
runs the workload on `local[<cores>]` with the `graft.GraftSession`
settings, writing its inputs and scratch space under `perfbench/.work/`.

Workloads (BENCHMARK.json describes their inputs):
  kernel    Sessionize.deniedCounts over typed events with dense sessions
  backfill  AuditSource.batch -> AuditSessionPipeline.transform -> noop sink
  stream    the same pipeline as a file-source stream, one file per trigger
  gates     registry gates through SparkEntry, each written to noop

Every run checks its outputs (see `perfbench/src/perfbench/Workloads.scala`)
and prints as its last line one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` the per-layer ones, and the run also writes the
per-layer record with every span to `perfbench/records/<workload>-<seed>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("kernel", "backfill", "stream", "gates")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as the sbt build sets them)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: build failed: %s" % e)
    wanted = declared_metrics(args.trace)

    tag = "%s-%d-%d" % (args.workload, args.seed, os.getpid())
    work = os.path.join(HERE, ".work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    log_path = os.path.join(HERE, ".work", tag + ".log")
    record = os.path.join(HERE, "records", "%s-%d.json" % (args.workload, args.seed))
    cmd = ([build.java(), "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, build.classpath()]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result, "--record", record])

    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def kill(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()

        signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
        signal.signal(signal.SIGINT, lambda *a: (kill(), sys.exit(130)))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill()
            out = ""
        sys.stdout.write(out)
        rc = proc.returncode
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit("perfbench: the benchmark JVM failed (exit %s); log in %s" % (rc, log_path))
    with open(result) as fh:
        res = json.load(fh)
    got = list(res["metrics"])
    if sorted(got) != sorted(wanted):
        sys.exit("perfbench: metrics %s do not match BENCHMARK.json %s" % (got, wanted))
    shutil.rmtree(work, ignore_errors=True)
    os.remove(log_path)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
