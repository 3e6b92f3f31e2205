#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script

  1. builds the benchmark package (perfbench/build.sbt: the repository's
     main sources plus the workload code) when a source changed since
     the last build, into .bench_build/;
  2. generates the workload's inputs from the seed (gen.py) under
     .bench_work/;
  3. starts one JVM for the workload (perfbench.Main) on a local[N]
     session, N = min(2, available cpus), with the JDK's default process launching, as
     spark-submit would;
  4. checks the program's outputs against computations made apart from
     the program (check.py);
  5. prints one JSON object as the last line of stdout:
     {"correct", "attempted", "failed", "metrics"}, the end-to-end
     metrics with --trace 0 and the per-layer metrics with --trace 1.

It exits non-zero, printing no result, when the repository's sources
are missing, the build fails, or the workload's JVM fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
JVM_TIMEOUT_S = 170
WORKLOADS = ["warehouse_stream", "ads_dashboard", "lakehouse_upsert"]

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions); no process-launch override, unlike the sbt build.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the repository's sources (src/main/scala) are not beside perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    log = os.path.join(BUILD, "build.log")
    os.makedirs(BUILD, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)


# N for local[N] and the shuffle partitions. The stream and the store
# spend their time on per-partition state and data files, which N = 2
# halves (stream batches 1.3-1.6 s against 1.8-2.3 s at N = 4); on a
# shared box N = 2 also leaves cores to JIT, GC and other tenants.
CPUS = 2


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(CPUS, n))


def run_jvm(args, inputs, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark distribution")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
           "perfbench.Main", "--workload", args.workload, "--inputs", inputs,
           "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus()), "--seed", str(args.seed), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"workload JVM failed ({rc}); log in {log}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    t0 = time.time()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(work)
    gen.generate(args.workload, args.seed, inputs)
    inputs_ms = (time.time() - t0) * 1000.0
    res = run_jvm(args, inputs, os.path.join(work, "jvm"))

    problems = check.check(args.workload, inputs, os.path.join(work, "jvm"), res)
    for p in problems[:20]:
        print(f"[perfbench] check: {p}", file=sys.stderr)
    setup_s = res["info"]["first_timed_epoch_ms"] / 1000.0 - t0
    measured = dict(res["e2e"] if not args.trace else res["layers"])
    measured["setup_s"] = {"value": setup_s, "unit": "s"}
    measured["setup.inputs_ms"] = {"value": inputs_ms, "unit": "ms"}
    # every metric BENCHMARK.json names for this mode; a per-layer metric
    # of another workload's layer reads 0 here
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: measured.get(m["name"], {"value": 0.0, "unit": m["unit"]})
               for m in spec}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "info": res["info"]}),
          file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
