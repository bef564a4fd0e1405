#!/bin/bash
# Where one perfbench run's Spark task time goes: deserialization vs running.
#
# Runs `perfbench/run.py --workload <workload>` with Spark's event log on
# (set through JAVA_TOOL_OPTIONS as -Dspark.* system properties, which the
# benchmark's SparkSession picks up; perfbench itself is unchanged), then
# reads the log's stage and task events and prints, per (stage call site,
# stage kind, task count):
#   stages  tasks  deser_ms  deser_ms/task  deser_cpu_ms  run_ms  shuffle_w_mb
# where deser_* are the executors' task deserialization time and CPU time
# (the task closure plus the broadcast Hadoop conf of a write job), run_ms
# the tasks' run time and shuffle_w_mb the shuffle bytes they wrote (MiB),
# summed over the stages; deser_ms/task is deser_ms over tasks. Rows are
# sorted by deser_ms. A second table prints, per call site, its batches
# (SQL executions, or jobs outside one; one table write is one batch) and
# the stages, tasks and shuffle MiB per batch. The counts cover the whole
# JVM lifetime: session start, data setup, warm-up and the timed window;
# the run's round count is printed first, so per-round figures are the
# totals divided by it (setup and warm-up included).
#
# Usage: scripts/task_cost.sh <replay|queries> [seconds=15] [seed=1]
set -eu
cd "$(dirname "$0")/.."
WORKLOAD=${1:?usage: scripts/task_cost.sh <replay|queries> [seconds] [seed]}
SECONDS_ARG=${2:-15}
SEED=${3:-1}
TMP=$(mktemp -d "${TMPDIR:-/tmp}/task-cost.XXXXXX")
mkdir "$TMP/events"
trap 'rm -rf "$TMP"' EXIT

JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file://$TMP/events -Dspark.eventLog.compress=false -Dspark.eventLog.rolling.enabled=false" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seconds "$SECONDS_ARG" --seed "$SEED" \
  --trace 0 >"$TMP/run.out" 2>"$TMP/run.err" || {
    echo "perfbench run failed; its stderr tail:" >&2
    tail -20 "$TMP/run.err" >&2
    exit 1
  }

python3 - "$TMP" <<'EOF'
import collections, glob, json, sys

tmp = sys.argv[1]
lines = open(f"{tmp}/run.out").read().splitlines()
result = json.loads(lines[-1])
record = next((json.loads(l[len("RUN_RECORD "):]) for l in lines if l.startswith("RUN_RECORD ")),
              {})
thr = result["metrics"].get("throughput", {}).get("value", float("nan"))
print(f"throughput {thr:.0f}/s  "
      f"correct {result['correct']}  timed rounds {record.get('notes', {}).get('rounds', '?')}")

logs = glob.glob(f"{tmp}/events/*")
if not logs:
    sys.exit("no Spark event log written")

def engine_frame(stack):
    """First graft.* frame of a call-site stack, shortened to Class.method(File:line)."""
    for f in (stack or "").splitlines():
        f = f.strip()
        if f.startswith("graft."):
            name, _, where = f.partition("(")
            cls, _, meth = name.rpartition(".")
            return f"{cls.rsplit('.', 1)[-1]}.{meth}({where}"
    return None

sql_site = {}    # execution id -> call site
stage_job = {}   # stage id -> execution id (or None)
stage_batch = {} # stage id -> execution id, or the job id outside one
stage_site = {}  # stage id -> call site from its own stack
stage_n = {}     # stage id -> task count
per_stage = collections.defaultdict(lambda: [0, 0.0, 0.0, 0.0, "map", 0])
for p in logs:
    for line in open(p):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sql_site[str(ev["executionId"])] = (engine_frame(ev.get("details"))
                                                or (ev.get("description") or "?").splitlines()[0])
        elif kind == "SparkListenerJobStart":
            ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ex)
                stage_batch.setdefault(sid, ex if ex is not None else f"job-{ev['Job ID']}")
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stage_site[si["Stage ID"]] = engine_frame(si.get("Details")) or si["Stage Name"]
            stage_n[si["Stage ID"]] = si["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m, r = ev["Task Metrics"], per_stage[ev["Stage ID"]]
            r[0] += 1
            r[1] += m["Executor Deserialize Time"]
            r[2] += m["Executor Deserialize CPU Time"] / 1e6
            r[3] += m["Executor Run Time"]
            if ev.get("Task Type") == "ResultTask":
                r[4] = "result"
            r[5] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

MB = 1024 * 1024
# per (call site, stage kind, tasks per stage): stages, tasks, deser, cpu, run, shuffle
rows = collections.defaultdict(lambda: [0, 0, 0.0, 0.0, 0.0, 0])
# per call site: batches, stages, tasks, shuffle bytes
sites = collections.defaultdict(lambda: [set(), 0, 0, 0])
for sid, (n, d, c, run, sk, sw) in per_stage.items():
    ex = stage_job.get(sid)
    site = (sql_site.get(ex) if ex is not None else None) or stage_site.get(sid, "?")
    r = rows[(site, sk, stage_n.get(sid, n))]
    r[0] += 1; r[1] += n; r[2] += d; r[3] += c; r[4] += run; r[5] += sw
    b = sites[site]
    b[0].add(stage_batch.get(sid, f"stage-{sid}")); b[1] += 1; b[2] += n; b[3] += sw

tot = [sum(r[i] for r in rows.values()) for i in range(6)]
print(f"total: {tot[0]} stages, {tot[1]} tasks, deser {tot[2]:.0f} ms "
      f"(cpu {tot[3]:.0f} ms), run {tot[4]:.0f} ms, shuffle write {tot[5] / MB:.1f} MiB")
print(f"\n{'stages':>7} {'tasks':>7} {'deser_ms':>9} {'deser_ms/task':>13} {'deser_cpu_ms':>12} "
      f"{'run_ms':>8} {'shuffle_w_mb':>12}  kind    tasks/stage  call site")
for (site, sk, n), r in sorted(rows.items(), key=lambda kv: -kv[1][2]):
    print(f"{r[0]:7d} {r[1]:7d} {r[2]:9.0f} {r[2] / r[1]:13.1f} {r[3]:12.0f} {r[4]:8.0f} "
          f"{r[5] / MB:12.2f}  {sk:6s} {n:12d}  {site}")
print(f"\n{'batches':>7} {'stages/batch':>12} {'tasks/batch':>11} {'shuffle_w_mb/batch':>18}  call site")
for site, (bs, st, n, sw) in sorted(sites.items(), key=lambda kv: -kv[1][1]):
    print(f"{len(bs):7d} {st / len(bs):12.2f} {n / len(bs):11.1f} {sw / MB / len(bs):18.3f}  {site}")
EOF
