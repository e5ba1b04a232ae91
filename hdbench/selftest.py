#!/usr/bin/env python3
"""Self-tests of the benchmark, run from the repo root:

    python3 hdbench/selftest.py

1. A smoke run of every workload on tiny inputs prints every end-to-end
   metric of BENCHMARK.json with its unit and passes all output checks;
   the traced smoke run prints every per-layer metric with its unit.
2. A tampered sink (one file duplicated) fails the checks: `correct` is
   false and `failed` counts the job.
3. In a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark exits non-zero without printing a result.
Exits non-zero on the first failed test.
"""
import json
import os
import shutil
import subprocess
import sys

RUN = ["python3", os.path.join("hdbench", "run.py")]


def run(args, cwd="."):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


def last_json(out):
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def expect(cond, what, out=""):
    if not cond:
        print(f"FAIL: {what}\n{out[-3000:]}")
        sys.exit(1)
    print(f"ok: {what}")


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[kind]}
        for w in bench["workloads"]:
            code, out, err = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                  "--trace", str(trace), "--size", "tiny"])
            expect(code == 0, f"{w['name']} trace={trace} exits 0", out + err)
            r = last_json(out)
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{w['name']} trace={trace} passes its output checks", out)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == want, f"{w['name']} trace={trace} prints every {kind} metric "
                   f"with its unit", f"got {got}\nwant {want}")
            expect(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                   f"{w['name']} trace={trace} metric values are numbers", out)

    code, out, err = run(["--workload", "flagship_batch", "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--size", "tiny", "--tamper"])
    r = last_json(out)
    expect(code == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
           "a duplicated sink file fails the checks and counts in failed", out + err)

    bare = os.path.join(".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(p, os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out, err = run(["--workload", "flagship_batch", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not out.strip(),
           "without the program's sources it exits non-zero and prints no result",
           out + err)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
