#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload replay --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt on first use (the
build is reused while the sources are unchanged), runs one workload in a
single JVM at local[<cpus>], and prints the result as the last stdout line:
one JSON object with `correct`, `attempted`, `failed` and `metrics`. The
line before it is the run record (cpus, loadavg, seed, source identity,
heap cap, Spark and JDK versions, the workload's own numbers).

    python3 perfbench/run.py --workload replay --steady 10 --seconds 15

runs a workload k times with seeds 1..k and prints each metric's median,
quartiles and spread (IQR / median), flagging any metric whose spread
exceeds a third of its bound in BENCHMARK.json ("over-third") or the
bound itself ("OVER-BOUND").

    python3 perfbench/run.py --record-expected

re-records perfbench/expected_queries.json (row count and content hash of
every operator query on the benchmark's query tables).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
STAMP = os.path.join(TARGET, "source-stamp.txt")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# JIT flags per workload. `queries` is bound by the Spark planner, whose code
# is too large for C2 to finish compiling within a run: with tiered
# compilation C2 was still compiling about a thousand methods a second a
# minute in, so pass times kept falling through the window and each JVM
# settled at a different speed. C1 alone settles sooner. Its default code
# cache (48 MB) fills with the planner's code, after which the JIT stops
# compiling; 256 MB is what tiered compilation reserves.
JIT = {"queries": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: engine sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose bin/spark-submit is first on PATH and
    has a jars/ directory (a pip-installed pyspark's launcher has none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    raise SystemExit("perfbench: set SPARK_HOME, or put a Spark installation's bin/ on PATH")


def build():
    """Compile with sbt unless the sources match the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the root of a repository checkout")
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    log("building engine and harness with sbt")
    t = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    proc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t:.1f} s")
    return stamp


def java_cmd(workload=None):
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        raise SystemExit("perfbench: java not found")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the run writes only inside the checkout
    return [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", *JIT.get(workload, []), *opens, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return list(os.getloadavg())


def source_identity(stamp):
    """The git commit when run from a clone, else the source hash."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return {"git_commit": out.stdout.strip(), "source_sha256": stamp}
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": None, "source_sha256": stamp}


def run_jvm(args, timeout, workload=None):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(java_cmd(workload) + args, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def run_once(workload, seed, seconds, trace, deadline):
    stamp = build()
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_before = loadavg()
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--cpus", str(cpus()),
            "--expected", os.path.join(HERE, "expected_queries.json"),
            "--spans", os.path.join(OUT, f"spans-{workload}-{seed}-{os.getpid()}.jsonl")]
    try:
        rc, out = run_jvm(args, max(10, deadline - time.time()), workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not lines:
        raise SystemExit(f"perfbench: workload {workload} failed (exit {rc})")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    record = res.pop("record")
    record.update(source_identity(stamp))
    record.update({"nproc": cpus(), "loadavg_before": load_before, "loadavg_after": loadavg(),
                   "trace": trace, "jvm_flags": JIT.get(workload, [])})
    return res, record


def bounds():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        return {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def steady(workload, k, seconds, trace):
    """Run k seeds and summarise each metric's spread (IQR / median)."""
    values = {}
    for seed in range(1, k + 1):
        res, record = run_once(workload, seed, seconds, trace, time.time() + RUN_TIMEOUT_S)
        print(json.dumps(record), flush=True)
        print(json.dumps(res), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bound = bounds()
    summary = {}
    for name, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bound.get(name)
        flag = "" if b is None or spread <= b / 3 else (" OVER-BOUND" if spread > b else " over-third")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": b}
        print(f"{name:40s} median {med:14.4f} q1 {q1:14.4f} q3 {q3:14.4f} "
              f"spread {spread:6.3f} bound {b}{flag}")
    print(json.dumps({"workload": workload, "runs": k, "summary": summary}))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=["replay", "queries"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--steady", type=int, default=0, metavar="K",
                   help="run K seeds and report each metric's quartiles")
    p.add_argument("--record-expected", action="store_true")
    a = p.parse_args()
    start = time.time()
    if a.record_expected:
        build()
        work = os.path.join(WORK, f"record-{os.getpid()}")
        try:
            rc, _ = run_jvm(["--record-expected", os.path.join(HERE, "expected_queries.json"),
                             "--work", work, "--cpus", str(cpus())], 1800)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(rc)
    if not a.workload:
        p.error("--workload is required")
    if a.steady:
        steady(a.workload, a.steady, a.seconds, a.trace)
        return
    # the first run in a checkout builds; every run must end in 180 s after it
    build()
    res, record = run_once(a.workload, a.seed, a.seconds, a.trace,
                           time.time() + RUN_TIMEOUT_S)
    print("RUN_RECORD " + json.dumps(record, sort_keys=True))
    print(json.dumps(res, sort_keys=True), flush=True)
    log(f"run took {time.time() - start:.1f} s")
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
