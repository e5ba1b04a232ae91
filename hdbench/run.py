#!/usr/bin/env python3
"""Benchmark of the hotdog pipeline (graft.hotdog), run from the repo root.

    python3 hdbench/run.py --workload flagship_batch --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source on first use (scalac from
the Spark distribution, into .bench_build/hdbench), stages the inputs it
has not cached yet in a JVM of their own, then runs the benchmark JVM (see
hdbench/README.md).
Prints one line per metric with its unit, then, as the last line, the JSON
result: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under .bench_build/ in the current directory.
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

BUILD = os.path.join(".bench_build", "hdbench")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("hdbench", "src")]
WORKLOADS = ["flagship_batch", "stream_backlog"]
RUN_LIMIT_S = 170         # every run ends within 180 s once built
BUILD_LIMIT_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BenchError("Spark distribution not found: set SPARK_HOME")
    return jars


def scala_files():
    files = []
    for root in SOURCES:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCES[0]) for f in files):
        raise BenchError(f"program sources not found under {SOURCES[0]}; "
                         "run from the root of a checkout")
    return sorted(files)


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_proc(cmd, log, timeout):
    """Run cmd in its own process group; stdout+stderr to log. Kills the
    whole group on timeout or interrupt and always waits for it."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except BaseException:
            kill_group(proc)
            raise BenchError(f"{cmd[0]} timed out or was interrupted; see {log}")
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"command failed with exit code {code} (log {log}):\n{tail}")


def build(jars):
    """Compile program + benchmark with scalac; skipped when the sources are
    unchanged. A rebuild also drops staged inputs, which the sources made."""
    files = scala_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(os.path.join(BUILD, "inputs"), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    run_proc(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
              "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files,
             os.path.join(BUILD, "build.log"), BUILD_LIMIT_S)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def jvm(classes, jars, args, log, deadline):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *opens,
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), "hdbench.Bench", *args]
    run_proc(cmd, log, deadline - time.monotonic())


def result_of(classes, jars, mode, a, inputs, tag, deadline):
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    res = os.path.join(BUILD, "logs", f"{tag}.json")
    if os.path.exists(res):
        os.remove(res)
    jvm(classes, jars, ["--mode", mode, "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--size", a.size, "--tamper", "1" if a.tamper else "0",
                        "--root", BUILD, "--input", inputs[0], "--cold", inputs[1],
                        "--result", res],
        os.path.join(BUILD, "logs", f"{tag}.log"), deadline)
    if mode == "stage":
        return None
    with open(res) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: smoke-test inputs (self-test only)")
    p.add_argument("--tamper", action="store_true",
                   help="duplicate a sink file of the first job (self-test only)")
    a = p.parse_args()

    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + RUN_LIMIT_S
    inputs = [os.path.join(BUILD, "inputs", f"{a.workload}-{key}-{a.size}")
              for key in (f"s{a.seed}", "cold")]
    tag = f"{a.workload}-s{a.seed}-{a.size}-t{a.trace}"
    if not all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in inputs):
        result_of(classes, jars, "stage", a, inputs, f"{tag}-stage", deadline)
    r = result_of(classes, jars, "run", a, inputs, tag, deadline)
    metrics = r["metrics"]

    absent = set(r.get("absent", []))
    print(f"hdbench {a.workload} seed={a.seed} trace={a.trace} size={a.size}")
    for name, m in metrics.items():
        shown = "absent (layer not run by this workload)" if name in absent \
            else f"{fmt(m['value'])} {m['unit']}"
        print(f"  {name:32s} {shown}")
    failed_frac = r["failed"] / max(1, r["attempted"])
    print(f"  {'failed_frac':32s} {fmt(failed_frac)} ratio "
          f"({r['failed']} of {r['attempted']} jobs)")
    for k, v in r.get("info", {}).items():
        print(f"  {k:32s} {fmt(v)}")
    for f in r.get("failures", []):
        print(f"  CHECK FAILED: {f}")
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


def on_term(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    try:
        main()
    except BenchError as e:
        print(f"hdbench: {e}", file=sys.stderr)
        sys.exit(2)
