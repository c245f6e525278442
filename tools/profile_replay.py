"""Stage-level profile of the CDC replay (reproducible plateau evidence).

BASELINE.md's scaling sections cite hand-run jstack / event-log profiles
(chmod-fork stall, AQE stage decomposition, the 6-8-core JVM plateau).
This tool makes those claims reproducible: it runs the same replay
bench.py times, with Spark's JSON event log enabled, then folds the log
into a per-stage table:

    stage name | tasks | task-time s | cpu s | gc s | shuffle R/W MB | input MB

and a summary splitting the run into executor-parallel time vs
driver-serial gaps (time between one job's end and the next job's
start — the Amdahl term the plan-expression cache attacks).

Usage:
    python tools/profile_replay.py [n_events] [cpus]
Writes nothing to the repo; prints the table (one row per stage,
heaviest first) plus a JSON summary line — a diagnostic, not a round
artifact.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    work = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/tps_profile")
    evdir = os.path.join(work, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from pyspark.sql import types as T

    from tap_postgres_spark.feedgen import generate_bulk_feed
    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.log_based import CdcPipeline
    from tap_postgres_spark.schema import StreamDef, widen_for_cdc
    from tap_postgres_spark.session import get_spark
    from tap_postgres_spark.state import StateStore

    spark = get_spark(
        "profile-replay",
        cores=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",  # parse as plain JSONL
            # keep per-task metrics in the log
            "spark.eventLog.logStageExecutorMetrics": "true",
        },
    )

    feed_dir = os.path.join(work, f"feed-{n_events}")
    if not os.path.exists(os.path.join(feed_dir, "_DONE")):
        shutil.rmtree(feed_dir, ignore_errors=True)
        generate_bulk_feed(
            feed_dir, n_events=n_events, n_keys=max(10_000, n_events // 8),
            n_files=64,
        )
        open(os.path.join(feed_dir, "_DONE"), "w").write("ok")

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )
    tdir = os.path.join(work, "lake", "t")
    shutil.rmtree(tdir, ignore_errors=True)
    state = os.path.join(work, "state.json")
    if os.path.exists(state):
        os.unlink(state)
    table = LakeTable.create(
        spark, tdir, widen_for_cdc(schema), ["repo", "path"], num_buckets=64
    )
    stream = StreamDef(
        schema_name="public", table_name="source_code_repos",
        spark_schema=schema, key_properties=("repo", "path"),
    )
    pipeline = CdcPipeline(
        spark, [stream],
        {"public.source_code_repos": {c: "text" for c in schema.names}},
        {"public.source_code_repos": table},
        StateStore(state),
    )
    files = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    t0 = time.time()
    raw = spark.read.schema("lsn long, txid long, payload string").parquet(
        *[os.path.join(feed_dir, f) for f in files]
    )
    pipeline.apply_batch(raw, epoch_id="profile-0")
    elapsed = time.time() - t0
    spark.stop()  # flush the event log

    # ---- fold the event log --------------------------------------------
    # Spark 4 writes a rolling dir (eventlog_v2_<app>/events_1_<app>…);
    # older layouts write one flat file.  Collect every event file.
    logf = []
    for f in os.listdir(evdir):
        p = os.path.join(evdir, f)
        if f.startswith("."):
            continue
        if os.path.isdir(p):
            logf += [os.path.join(p, g) for g in sorted(os.listdir(p))
                     if g.startswith("events")]
        else:
            logf.append(p)
    stages: dict[str, dict] = defaultdict(
        lambda: {"tasks": 0, "task_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                 "sh_r_mb": 0.0, "sh_w_mb": 0.0, "in_mb": 0.0, "n": 0}
    )
    jobs = []  # (submit_ms, end_ms)
    cur_jobs = {}
    def _lines():
        for lf in logf:
            with open(lf) as f:
                yield from f

    for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerTaskEnd":
                si = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                name = f"stage-{si}"
                s = stages[name]
                s["tasks"] += 1
                s["task_ms"] += tm.get("Executor Run Time", 0)
                s["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                s["gc_ms"] += tm.get("JVM GC Time", 0)
                s["sh_r_mb"] += (tm.get("Shuffle Read Metrics", {})
                                 .get("Remote Bytes Read", 0)
                                 + tm.get("Shuffle Read Metrics", {})
                                 .get("Local Bytes Read", 0)) / 1e6
                s["sh_w_mb"] += (tm.get("Shuffle Write Metrics", {})
                                 .get("Shuffle Bytes Written", 0)) / 1e6
                s["in_mb"] += (tm.get("Input Metrics", {})
                               .get("Bytes Read", 0)) / 1e6
            elif k == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                name = f"stage-{info['Stage ID']}"
                stages[name]["name"] = info.get("Stage Name", "")[:70]
            elif k == "SparkListenerJobStart":
                cur_jobs[ev["Job ID"]] = ev["Submission Time"]
            elif k == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in cur_jobs:
                    jobs.append((cur_jobs.pop(jid), ev["Completion Time"]))

    jobs.sort()
    serial_gap_ms = 0
    for (s0, e0), (s1, _e1) in zip(jobs, jobs[1:]):
        if s1 > e0:
            serial_gap_ms += s1 - e0
    busy_ms = sum(e - s for s, e in jobs)

    rows = sorted(stages.items(), key=lambda kv: -kv[1]["task_ms"])
    print(f"{'stage':<9}{'tasks':>6}{'task-s':>9}{'cpu-s':>8}{'stall%':>7}"
          f"{'gc-s':>7}{'shR-MB':>9}{'shW-MB':>9}{'in-MB':>9}  name")
    for name, s in rows[:20]:
        stall = (100 * (1 - s["cpu_ms"] / s["task_ms"])
                 if s["task_ms"] else 0.0)
        print(f"{name:<9}{s['tasks']:>6}{s['task_ms']/1000:>9.1f}"
              f"{s['cpu_ms']/1000:>8.1f}{stall:>7.0f}"
              f"{s['gc_ms']/1000:>7.1f}"
              f"{s['sh_r_mb']:>9.1f}{s['sh_w_mb']:>9.1f}{s['in_mb']:>9.1f}"
              f"  {s.get('name','')}")
    print(json.dumps({
        "n_events": n_events, "cpus": cpus,
        "wall_s": round(elapsed, 2),
        "events_per_sec": round(n_events / elapsed, 1),
        "jobs": len(jobs),
        "job_busy_s": round(busy_ms / 1000, 2),
        "driver_serial_gap_s": round(serial_gap_ms / 1000, 2),
        "stage_task_time_s": round(sum(s["task_ms"] for _, s in rows) / 1000, 1),
        "stage_cpu_time_s": round(sum(s["cpu_ms"] for _, s in rows) / 1000, 1),
        "stage_gc_time_s": round(sum(s["gc_ms"] for _, s in rows) / 1000, 1),
    }))


if __name__ == "__main__":
    main()
