#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <deepbook_dag|fuzzy_join|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark when their sources changed (see
build.sh), then runs one workload in a single JVM on local[k],
k = min(4, usable cores), with a fixed heap. The last line on stdout is the
result object; everything else (build, Spark and progress logs) goes to
stderr or to log files under .bench_build/.

Extra options, not used by the benchmark contract:
    --smoke            tiny inputs, for perfbench/selftest.py
    --expected <path>  expected-values file (default perfbench/expected.json)
    --write-expected   record the outputs as the expected values
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
HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sh")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "scala")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from a full checkout of the repository")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building engine and benchmark")
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    code, _ = run_group(["bash", os.path.join(HERE, "build.sh"), BUILD], BUILD_DEADLINE_S, cwd=ROOT)
    if code != 0:
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f}s")


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(line, trace):
    """The result must be exactly what the contract reads."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool) or res[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if res["attempted"] < 1:
        raise ValueError("attempted < 1")
    want = expected_metrics(trace)
    got = res["metrics"]
    if set(got) != set(want):
        raise ValueError(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if set(m) != {"value", "unit"} or m["unit"] != want[name]:
            raise ValueError(f"metric {name}: {m}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} is not a number")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["deepbook_dag", "fuzzy_join", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    ap.add_argument("--write-expected", action="store_true")
    a = ap.parse_args()

    t_start = time.time()
    build()
    with open(os.path.join(BUILD, "engine.classpath")) as f:
        engine_cp = f.read().strip()
    classes = os.path.join(BUILD, "classes")
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    k = cores()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{engine_cp}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(k),
            "--data", os.path.join(HERE, "data"), "--work", work, "--expected", a.expected]
    if a.smoke:
        cmd.append("--smoke")
    if a.write_expected:
        cmd.append("--write-expected")
    log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} local[{k}] heap={HEAP}")
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    budget = max(30, RUN_DEADLINE_S - (time.time() - t_start))
    try:
        with open(log_path, "w") as err:
            code, out = run_group(cmd, budget, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded its deadline (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"perfbench: JVM exited with {code} (log: {log_path})")
    try:
        validate(lines[-1], a.trace == 1)
    except (ValueError, KeyError, json.JSONDecodeError) as e:
        sys.exit(f"perfbench: malformed result ({e}): {lines[-1][:500]}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
