#!/usr/bin/env python3
"""Benchmark of the ETSD-on-Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload point_query --seed 1 --seconds 6 --trace 0

Run it from the repository root. The first run compiles the engine's
sources together with the harness under perfbench/src (an sbt project of
its own, perfbench/build.sbt) and later runs reuse the build while no
source changes. The harness JVM then sets up the workload, measures it
for --seconds in a closed loop with one client thread against a
local[nproc] session, checks every answer against an oracle and writes
its figures. This script prints every measured metric by name with its
unit, then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones, from a run that records spans around each call into
the engine's layers and writes them to .bench_build/traces/.

--self-test runs the harness's own unit tests instead. perfbench/METRICS.md
describes the workloads, the metrics and the layer each one measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 175

# The root build's JVM options for Spark on JDK 17 outside spark-submit;
# the harness passes them on to the EtsdCmd child processes it starts.
# -XX:-UsePerfData keeps the JVMs from writing outside the checkout.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-XX:-UsePerfData"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(task, log):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", task],
                              cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL).returncode


def build():
    """Compile when any source changed; return the runtime classpath and
    whether a build ran."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh2:
                    return fh2.read().strip(), False
    log = os.path.join(BUILD, "build.log")
    if sbt("benchClasspath", log) != 0:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read().strip(), True


def run_jvm(cmd, log, limit_s):
    """Run the harness in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {limit_s:.0f} s, see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fmt(v):
    return "null" if v is None else repr(float(v))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.self_test:
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "test.log")
        code = sbt("test", log)
        print(f"self-test {'passed' if code == 0 else 'FAILED'}, log: {log}")
        sys.exit(code)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")

    start = time.time()
    cp, built = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json")
    cmd = ["java"] + JVM_OPTS + ["-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--run-dir", run_dir, "--result", result_path,
           "--trace-out", trace_path]
    log = os.path.join(BUILD, "runs", run_id + ".log")
    # a run that had to build gets the harness's full time after the build
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - start)
    code = run_jvm(cmd, log, limit)
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited {code}, see {log}")
    with open(result_path) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not measure {missing}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in res["metrics"].items():
        print(f"{name} = {fmt(value)} {units.get(name, '')}".rstrip())
    for name, value, unit, detail in res["report"]:
        print(f"{name} = {fmt(value)} {unit}" + (f"  ({detail})" if detail else ""))
    print(f"fail_frac = {res['failed'] / res['attempted']!r} ratio"
          f"  ({res['failed']} of {res['attempted']} operations differ from the oracle)")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
