#!/usr/bin/env python3
"""Per-job timeline of a Spark event log.

Usage: python3 tools/eventlog_jobs.py <event-log> [<first-job> [<last-job>]]

Reads one uncompressed event log (spark.eventLog.compress=false), a file
or a rolling log's eventlog_v2_* directory (Spark 4's default), and
prints one line per job: job id, SQL execution id, the gap since the
previous job ended (driver time between jobs; negative when the two
overlap, as adaptive stages of one query often do), the job's duration, the
stages and tasks it ran (skipped stages and their tasks are not counted)
and its call site. A footer sums jobs, tasks, job time and gap time over
the printed range.
"""
import json
import pathlib
import sys


def lines(path):
    p = pathlib.Path(path)
    # a rolling log: events_<n>_<app> files, read in order of n
    files = sorted(p.glob("events_*"), key=lambda f: int(f.name.split("_")[1])) if p.is_dir() else [p]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def read(path):
    jobs = {}       # job id -> dict
    ran = set()     # stage ids that were submitted
    tasks = {}      # stage id -> finished task count
    for line in lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            site = props.get("callSite.short") or (stages[-1].get("Stage Name") if stages else "")
            if "withThreadLocalCaptured" in site and stages:
                # an adaptive query stage, submitted from AQE's own thread:
                # name it by the operator that produced its last RDD
                last = max(stages[-1].get("RDD Info") or [{}], key=lambda r: r.get("RDD ID", -1))
                scope = json.loads(last.get("Scope") or "{}").get("name", "")
                site = "adaptive stage: " + scope.splitlines()[0][:60] if scope else site
            jobs[ev["Job ID"]] = {
                "sql": props.get("spark.sql.execution.id", ""),
                "start": ev.get("Submission Time"),
                "end": None,
                "stages": ev.get("Stage IDs") or [],
                "site": site,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageSubmitted":
            ran.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            s = ev.get("Stage ID")
            tasks[s] = tasks.get(s, 0) + 1
    return jobs, ran, tasks


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    jobs, ran, tasks = read(argv[1])
    ids = sorted(jobs)
    lo = int(argv[2]) if len(argv) > 2 else (ids[0] if ids else 0)
    hi = int(argv[3]) if len(argv) > 3 else (ids[-1] if ids else -1)
    print(f"{'job':>5} {'sql':>5} {'gap_ms':>7} {'dur_ms':>7} {'stages':>6} {'tasks':>6}  call site")
    prev_end = None
    n = n_tasks = busy = idle = 0
    for j in ids:
        job = jobs[j]
        stages = [s for s in job["stages"] if s in ran]
        t = sum(tasks.get(s, 0) for s in stages)
        dur = job["end"] - job["start"] if job["end"] is not None else None
        gap = job["start"] - prev_end if prev_end is not None else None
        if job["end"] is not None:
            prev_end = job["end"]
        if not lo <= j <= hi:
            continue
        n += 1
        n_tasks += t
        busy += dur or 0
        idle += gap if gap is not None and j > lo else 0
        print(f"{j:>5} {job['sql']:>5} {'' if gap is None else gap:>7} "
              f"{'' if dur is None else dur:>7} {len(stages):>6} {t:>6}  {job['site']}")
    print(f"{n} jobs, {n_tasks} tasks, {busy} ms in jobs, {idle} ms between them")


if __name__ == "__main__":
    main(sys.argv)
