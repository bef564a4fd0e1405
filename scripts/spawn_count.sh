#!/bin/bash
# Count the OS processes one perfbench run starts, by command and by caller.
#
# Runs `perfbench/run.py --workload <workload>` with a JFR recording in
# every JVM it starts (JAVA_TOOL_OPTIONS; the recording target is a
# directory, so each JVM writes its own hotspot-pid-<pid>-*.jfr there; JDK 17
# does not expand `%p` in a file name), then reads the `jdk.ProcessStart`
# events of the benchmark JVM (the one running perfbench.Main; an sbt build
# JVM, if the run had to build, is skipped) and prints two tables:
#   - starts per command (first word of the command line),
#   - starts per (command, first caller frame outside Hadoop and the JDK,
#     first engine frame: graft.* or perfbench.*); "-" means no such frame
#     on the stack. Executor task threads and Spark 4's adaptive
#     `ResultQueryStageExecution` threads (where a write job's committer
#     runs) carry no engine frame, so the caller column is the one to read.
# The counts cover the whole JVM lifetime: session start, data setup,
# warm-up and the timed window.
#
# Usage: scripts/spawn_count.sh <replay|queries> [seconds=15] [seed=1]
set -eu
cd "$(dirname "$0")/.."
WORKLOAD=${1:?usage: scripts/spawn_count.sh <replay|queries> [seconds] [seed]}
SECONDS_ARG=${2:-15}
SEED=${3:-1}
TMP=$(mktemp -d "${TMPDIR:-/tmp}/spawn-count.XXXXXX")
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

python3 - "$TMP" <<'EOF'
import collections, glob, json, subprocess, sys

tmp = sys.argv[1]
SKIP = ("java.", "javax.", "jdk.", "sun.", "com.sun.", "org.apache.hadoop.")

def jfr(path, events):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256", "--events",
                          events, path],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out)["recording"]["events"]

def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    for f in st.get("frames", []):
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]

bench = [p for p in sorted(glob.glob(f"{tmp}/jfr/*.jfr"))
         if any("perfbench.Main" in (e["values"].get("javaArguments") or "")
                for e in jfr(p, "jdk.JVMInformation"))]
if not bench:
    sys.exit("no JFR recording of the benchmark JVM found")
by_cmd, by_caller = collections.Counter(), collections.Counter()
for p in bench:
    for ev in jfr(p, "jdk.ProcessStart"):
        cmd = ev["values"]["command"].split(" ")[0].rsplit("/", 1)[-1]
        fs = list(frames(ev))
        caller = next((f for f in fs if not f.startswith(SKIP)), "-")
        engine = next((f for f in fs if f.startswith(("graft.", "perfbench."))), "-")
        by_cmd[cmd] += 1
        by_caller[(cmd, caller, engine)] += 1

print(f"process starts: {sum(by_cmd.values())}")
print("\nby command:")
for c, n in by_cmd.most_common():
    print(f"{n:8d}  {c}")
print("\nby command, first caller outside Hadoop/JDK, first engine frame:")
for (c, f, e), n in by_caller.most_common():
    print(f"{n:8d}  {c:9s} {f}  <-  {e}")
EOF
