#!/bin/bash
# Where one perfbench run's driver-side CPU goes, by engine call site.
#
# Runs `perfbench/run.py --workload <workload>` with a JFR recording
# (settings=profile: Java samples every 10 ms per running thread, native
# samples every 20 ms) in every JVM it starts (JAVA_TOOL_OPTIONS; perfbench
# itself is unchanged), then reads the `jdk.ExecutionSample` and
# `jdk.NativeMethodSample` events of the benchmark JVM (the one running
# perfbench.Main; an sbt build JVM is skipped) and prints:
#   - sample counts by thread kind: executor task threads ("Executor task
#     launch worker") against everything else (driver side);
#   - the top driver-side engine call sites: samples grouped by the first
#     graft.* frame of the stack (the engine method that was running, or
#     the one whose callee was);
#   - the callers of Hadoop's `Configuration.loadResource` (the XML parse
#     of core-default.xml / core-site.xml that every fresh `Configuration`
#     pays on its first read): samples grouped by thread kind, the first
#     frame outside Hadoop's conf code and the JDK, and the first engine
#     frame.
# The counts cover the whole JVM lifetime: session start, data setup,
# warm-up and the timed window.
#
# Usage: scripts/jfr_hot.sh <replay|queries> [seconds=15] [seed=1] [top=25]
set -eu
cd "$(dirname "$0")/.."
WORKLOAD=${1:?usage: scripts/jfr_hot.sh <replay|queries> [seconds] [seed] [top]}
SECONDS_ARG=${2:-15}
SEED=${3:-1}
TOP=${4:-25}
TMP=$(mktemp -d "${TMPDIR:-/tmp}/jfr-hot.XXXXXX")
mkdir "$TMP/jfr"
trap 'rm -rf "$TMP"' EXIT

JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$TMP/jfr,settings=profile,dumponexit=true -XX:FlightRecorderOptions=stackdepth=256" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seconds "$SECONDS_ARG" --seed "$SEED" \
  --trace 0 >"$TMP/run.out" 2>"$TMP/run.err" || {
    echo "perfbench run failed; its stderr tail:" >&2
    tail -20 "$TMP/run.err" >&2
    exit 1
  }
grep '"throughput"' "$TMP/run.out" | tail -1

python3 - "$TMP" "$TOP" <<'EOF'
import collections, glob, json, re, subprocess, sys

tmp, top = sys.argv[1], int(sys.argv[2])
LOAD = "org.apache.hadoop.conf.Configuration.loadResource"
NOT_CALLER = ("java.", "javax.", "jdk.", "sun.", "com.sun.", "scala.",
              "org.apache.hadoop.conf.", "org.apache.hadoop.shaded.", "com.ctc.wstx.",
              "org.codehaus.stax2.", "org.apache.parquet.conf.")

def is_bench(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.JVMInformation", path],
                         capture_output=True, text=True, check=True).stdout
    return any("perfbench.Main" in (e["values"].get("javaArguments") or "")
               for e in json.loads(out)["recording"]["events"])

def samples(path):
    """(thread name, [frames, leaf first]) per sample, streamed from `jfr print`."""
    p = subprocess.Popen(["jfr", "print", "--stack-depth", "256", "--events",
                          "jdk.ExecutionSample,jdk.NativeMethodSample", path],
                         stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    for line in p.stdout:
        s = line.strip()
        if s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(javaThreadId', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            frames, in_stack = [], True
        elif in_stack:
            if s == "]":
                in_stack = False
                yield thread, frames
            elif s != "...":
                frames.append(s.split("(", 1)[0] + (" line" + s.rsplit("line", 1)[1]
                                                    if "line:" in s else ""))
    p.wait()

def kind(thread):
    if thread.startswith("Executor task launch worker"):
        return "executor"
    return re.sub(r"\d+", "N", re.sub(r"\s*\[.*\]", "", thread))

def short(frame):
    name, _, line = frame.partition(" line: ")
    cls, _, meth = name.rpartition(".")
    return f"{cls.rsplit('.', 1)[-1]}.{meth}" + (f":{line}" if line else "")

bench = [p for p in sorted(glob.glob(f"{tmp}/jfr/*.jfr")) if is_bench(p)]
if not bench:
    sys.exit("no JFR recording of the benchmark JVM found")
by_kind, by_site, by_loader = collections.Counter(), collections.Counter(), collections.Counter()
total = driver = loads = 0
for p in bench:
    for thread, frames in samples(p):
        total += 1
        k = kind(thread)
        by_kind[k] += 1
        names = [f.split(" line")[0] for f in frames]
        engine = next((f for f in frames if f.startswith("graft.")), None)
        if k != "executor":
            driver += 1
            if engine:
                by_site[short(engine)] += 1
        if LOAD in names:
            loads += 1
            below = frames[names.index(LOAD):]
            caller = next((f for f in below if not f.startswith(NOT_CALLER)), "-")
            by_loader[(k, short(caller), short(engine) if engine else "-")] += 1

print(f"samples: {total}  driver side: {driver} ({sum(by_site.values())} under an engine "
      f"frame)  executor tasks: {by_kind['executor']}")
print("\nby thread kind:")
for k, n in by_kind.most_common(12):
    print(f"{n:8d}  {k}")
print("\ntop driver-side engine call sites (first graft.* frame; share of driver side):")
for site, n in by_site.most_common(top):
    print(f"{n:8d} {100.0 * n / max(driver, 1):5.1f}%  {site}")
print(f"\n{LOAD}: {loads} samples ({100.0 * loads / max(total, 1):.1f}% of all); "
      "by thread kind, first caller outside Hadoop conf/JDK, first engine frame:")
for (k, c, e), n in by_loader.most_common(top):
    print(f"{n:8d}  {k:32s} {c}  <-  {e}")
EOF
