#!/usr/bin/env python3
"""Summarize a Spark event log per bench query label.

Usage: python3 tools/evlog_report.py /tmp/spark-events/<app-id> [label-filter]

Any entry point writes an event log when Spark's own `spark.eventLog.*`
properties reach its forked JVM, e.g. for two bench queries timed exactly as
the bench times them (the log directory must exist):

  mkdir -p /tmp/spark-events
  sbt 'set javaOptions ++= Seq("-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false", "-Dspark.eventLog.dir=/tmp/spark-events", "-Dspark.eventLog.rolling.enabled=false")' "runMain graft.tools.BenchOne llm_seg_dedup ts_amt"

Groups jobs by their `spark.job.description` (Bench sets `bench:<query>` for
build jobs and `bench:<query>:exec` for the timed re-executions), and reports
per label: job count, wall of jobs, stage count, task count, task-time sum,
shuffle read/write bytes, and the per-stage breakdown for the worst labels.
This is the measurement backbone of the optimization rounds (guide §1):
exec-labelled rows show exactly where the timed seconds go.
"""
import json
import sys
from collections import defaultdict


def main():
    path = sys.argv[1]
    want = sys.argv[2] if len(sys.argv) > 2 else None
    job_label = {}
    job_start = {}
    job_stages = {}
    label_jobs = defaultdict(list)
    # stage id -> info
    stage_info = {}
    stage_tasks = defaultdict(lambda: [0, 0.0, 0, 0, 0.0, 0.0])
    # [n_tasks, task_time_s, shuf_read, shuf_write, fetch_wait_s, gc_s]
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                lbl = props.get("spark.job.description", "?")
                job_label[jid] = lbl
                job_start[jid] = ev.get("Submission Time", 0)
                job_stages[jid] = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                dur = (ev.get("Completion Time", 0) - job_start.get(jid, 0)) / 1e3
                label_jobs[job_label.get(jid, "?")].append((jid, dur, job_stages.get(jid, [])))
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
                stage_info[sid] = (si.get("Stage Name", "?"), si.get("Number of Tasks", 0), dur)
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                rec = stage_tasks[sid]
                rec[0] += 1
                rec[1] += tm.get("Executor Run Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                rec[2] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                rec[3] += sw.get("Shuffle Bytes Written", 0)
                rec[4] += sr.get("Fetch Wait Time", 0) / 1e3
                rec[5] += tm.get("JVM GC Time", 0) / 1e3

    rows = []
    for lbl, jobs in label_jobs.items():
        if want and want not in lbl:
            continue
        wall = sum(d for _, d, _ in jobs)
        sids = sorted({s for _, _, ss in jobs for s in ss if s in stage_info})
        n_tasks = sum(stage_tasks[s][0] for s in sids)
        task_time = sum(stage_tasks[s][1] for s in sids)
        sread = sum(stage_tasks[s][2] for s in sids)
        swrite = sum(stage_tasks[s][3] for s in sids)
        rows.append((wall, lbl, len(jobs), len(sids), n_tasks, task_time, sread, swrite))
    rows.sort(reverse=True)
    print(f"{'wall_s':>8} {'jobs':>5} {'stages':>6} {'tasks':>6} {'task_s':>8} "
          f"{'shufR_MB':>9} {'shufW_MB':>9}  label")
    for wall, lbl, nj, ns, nt, ts, sr, sw in rows[:80]:
        print(f"{wall:8.2f} {nj:5d} {ns:6d} {nt:6d} {ts:8.2f} "
              f"{sr/1e6:9.2f} {sw/1e6:9.2f}  {lbl}")

    if want:
        # per-stage detail for the filtered label
        for lbl, jobs in sorted(label_jobs.items()):
            if want not in lbl:
                continue
            print(f"\n== {lbl}")
            for jid, dur, ss in jobs:
                print(f"  job {jid}  {dur:7.3f}s")
                for s in ss:
                    if s not in stage_info:
                        continue
                    name, ntask, sdur = stage_info[s]
                    rec = stage_tasks[s]
                    print(f"    stage {s:5d} {sdur:7.3f}s tasks={ntask:4d} "
                          f"taskTime={rec[1]:7.3f}s shufR={rec[2]/1e6:8.2f}MB "
                          f"shufW={rec[3]/1e6:8.2f}MB  {name[:90]}")


if __name__ == "__main__":
    main()
