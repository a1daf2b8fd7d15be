#!/usr/bin/env python3
"""graft's benchmark: the CDC client loop and a contract-query mix.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload cdc_cold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first call builds graft and the benchmark from the checkout's
sources with sbt (offline) into perfbench/target and records the
runtime classpath under .bench_build/; later calls rebuild only when a
source file changed. Each run starts one JVM with a local Spark session
on every CPU, prints an environment line and, as its last line, one
JSON result: {"correct", "attempted", "failed", "metrics"}.

--smoke runs all three workloads at a tiny scale, untraced and traced,
and checks that every metric named in BENCHMARK.json is emitted and
that every oracle passes. See perfbench/README.md.
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

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
WORKLOADS = ("cdc_cold", "cdc_incremental", "query_mix")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(root, BENCH_DIR, "src")]
    files = [os.path.join(root, BENCH_DIR, "build.sbt"),
             os.path.join(root, BENCH_DIR, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile graft + the benchmark; return the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "client", "GraftClient.scala")):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    stamp_file = os.path.join(root, BUILD_DIR, "classpath.json")
    stamp = source_stamp(root)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, BENCH_DIR), env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    if not classpath or not all(os.path.isabs(p) for p in classpath):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, classpath, workload, seed, seconds, trace, tiny=False):
    """One benchmark run in its own JVM; returns (env, result) or exits."""
    work = os.path.join(root, BUILD_DIR, "work", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--cpus", str(cpus())]
    if tiny:
        cmd.append("--tiny")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S}s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.strip().splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"{workload} exited with code {proc.returncode}", 4)
    return json.loads(lines[-2])["env"], json.loads(lines[-1])


def smoke(root, classpath):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            _, result = run_jvm(root, classpath, workload, 1, 1, trace, tiny=True)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if got != wanted[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: missing {sorted(set(wanted[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(wanted[trace]))}, "
                                f"units {[k for k in got if k in wanted[trace] and got[k] != wanted[trace][k]]}")
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"oracles: {result['failed']} of {result['attempted']} operations failed")
            zero = [k for k, v in result["metrics"].items() if trace == 0 and not v["value"] > 0]
            if zero:
                problems.append(f"end-to-end metrics not positive: {zero}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            ok = ok and not problems
            print(f"smoke {workload} trace={trace}: {status} ({time.time() - t0:.1f}s)")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    classpath = build(root)
    if a.smoke:
        sys.exit(smoke(root, classpath))
    env, result = run_jvm(root, classpath, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"env": env}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
