#!/usr/bin/env python3
"""Smoke mode and output self-test of the benchmark. Run from the
repository root:

    python3 perfbench/selftest.py

1. Builds, then checks the Scala helpers (perfbench.SelfCheck: the stats
   helper's median/quartiles and the row hash).
2. Runs every workload of BENCHMARK.json on tiny inputs for one pass, with
   --trace 0 and --trace 1, and parses stdout exactly as the benchmark
   contract does: the last line is one JSON object with exactly the keys
   correct/attempted/failed/metrics, and metrics holds every end-to-end
   (or per-layer) metric of BENCHMARK.json, each a number with its unit.
3. Corrupts one committed expected value and checks that the run reports
   correct=false with a failed op.
4. Runs the benchmark in a directory holding only BENCHMARK.json and the
   benchmark's own files, and checks that it exits non-zero and prints no
   result.
Exits non-zero on the first failed step.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the runner's build step and JVM options)

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def fail(msg):
    sys.exit(f"selftest FAILED: {msg}")


def parse(stdout, trace):
    """The contract's reading of one run's stdout."""
    lines = stdout.strip().splitlines()
    if not lines:
        fail("no output")
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        fail(f"attempted {res['attempted']!r}")
    if not isinstance(res["failed"], int):
        fail(f"failed {res['failed']!r}")
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    if missing or extra:
        fail(f"metrics missing {missing}, unexpected {extra}")
    for name, m in got.items():
        if not isinstance(m.get("value"), (int, float)) or isinstance(m.get("value"), bool):
            fail(f"{name} value {m.get('value')!r} is not a number")
        if m.get("unit") != want[name]:
            fail(f"{name} unit {m.get('unit')!r}, want {want[name]!r}")
    return res


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, text=True, timeout=400)
    return p.returncode, p.stdout


def main():
    run.build()
    cp = open(os.path.join(run.BUILD, "engine.classpath")).read().strip()
    cmd = ["java", f"-Xmx{run.HEAP}"]
    for p in run.JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.join(run.BUILD, 'classes')}:{cp}", "perfbench.SelfCheck"]
    if subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode:
        fail("perfbench.SelfCheck")
    print("helpers: ok", flush=True)

    for w in SPEC["workloads"]:
        for trace in (0, 1):
            code, out = bench("--workload", w["name"], "--seed", "1", "--seconds", "1",
                              "--trace", str(trace), "--smoke")
            if code != 0:
                fail(f"{w['name']} trace={trace} exited {code}")
            res = parse(out, trace)
            if not res["correct"] or res["failed"]:
                fail(f"{w['name']} trace={trace}: correct={res['correct']} failed={res['failed']}")
            print(f"{w['name']} trace={trace}: ok ({res['attempted']} attempted)", flush=True)

    corrupt = os.path.join(run.BUILD, "expected-corrupt.json")
    exp = json.load(open(os.path.join(HERE, "expected.json")))
    entry = exp["fuzzy_join"]["d14b_fuzzy_join_k2"]
    entry["hash"] = str(int(entry["hash"]) + 1)
    json.dump(exp, open(corrupt, "w"))
    code, out = bench("--workload", "fuzzy_join", "--seed", "1", "--seconds", "1",
                      "--trace", "0", "--smoke", "--expected", corrupt)
    res = parse(out, 0)
    if code != 0 or res["correct"] or res["failed"] < 1:
        fail(f"a corrupted expected value was not caught: {res}")
    print("corrupted expected value: caught", flush=True)

    bare = os.path.join(run.BUILD, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        fail(f"a directory without the engine exited {code} with output {out!r}")
    print("without the engine: exits non-zero, prints nothing", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
