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

Then one line per SQL execution: its id, its jobs, its duration, the
number of adaptive plan updates and, in its final plan (the last
SparkListenerSQLAdaptiveExecutionUpdate, else the plan it started with),
the InMemoryTableScan nodes (reads of a persisted Dataset) and the
ReusedExchange nodes (an exchange computed once and read again), then its
description. A reused exchange's subtree is its original's, so it is not
counted twice. The job range does not apply to these lines.

Then, for a log with streaming queries, one line per micro-batch from its
QueryProgressEvent, in the order the batches ended: query run id, batch
id, input rows over its sources, the sink's output rows (-1 for a sink
that does not count them, as foreachBatch) and the batch's durationMs
phases (addBatch, queryPlanning, walCommit, commitOffsets,
triggerExecution); then the median of each phase per batch id over all
the runs in the log. The job range does not apply to this part.
"""
import json
import pathlib
import statistics
import sys

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")


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
    batches = []    # micro-batch progress, in the order the batches ended
    sqls = {}       # SQL execution id -> dict
    for line in lines(path):
        ev = json.loads(line)
        kind = ev.get("Event") or ""
        if kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            batches.append(ev["progress"])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sqls[ev["executionId"]] = {
                "start": ev.get("time"), "end": None, "updates": 0,
                "plan": ev.get("sparkPlanInfo") or {},
                "desc": (ev.get("description") or "").split("\n")[0][:60],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in sqls:
                sqls[ev["executionId"]]["updates"] += 1
                sqls[ev["executionId"]]["plan"] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in sqls:
                sqls[ev["executionId"]]["end"] = ev.get("time")
        elif kind == "SparkListenerJobStart":
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
    return jobs, ran, tasks, batches, sqls


def count_nodes(plan, names):
    """Nodes of a sparkPlanInfo tree per name, not descending below a
    ReusedExchange (its child is the original exchange, counted where it
    runs)."""
    counts = dict.fromkeys(names, 0)
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name in counts:
            counts[name] += 1
        if name != "ReusedExchange":
            stack.extend(node.get("children") or [])
    return counts


def print_sqls(sqls, jobs):
    if not sqls:
        return
    n_jobs = {}
    for job in jobs.values():
        n_jobs[job["sql"]] = n_jobs.get(job["sql"], 0) + 1
    print(f"\n{'sql':>5} {'jobs':>5} {'dur_ms':>7} {'updates':>7} {'cache_scans':>11} {'reused':>6}  description")
    for i in sorted(sqls):
        q = sqls[i]
        dur = q["end"] - q["start"] if q["end"] is not None and q["start"] is not None else ""
        c = count_nodes(q["plan"], ("InMemoryTableScan", "ReusedExchange"))
        print(f"{i:>5} {n_jobs.get(str(i), 0):>5} {dur:>7} {q['updates']:>7} "
              f"{c['InMemoryTableScan']:>11} {c['ReusedExchange']:>6}  {q['desc']}")


def phase_cells(values):
    """One right-aligned cell per phase, as wide as the phase's name."""
    return "".join(f" {v:>{len(p)}}" for p, v in zip(PHASES, values))


def print_batches(batches):
    if not batches:
        return
    print(f"\n{'run':>8} {'batch':>5} {'rows':>6} {'out':>6}{phase_cells(PHASES)}")
    by_id = {}
    for b in batches:
        d = b.get("durationMs") or {}
        by_id.setdefault(b["batchId"], []).append(d)
        rows = sum(src.get("numInputRows", 0) for src in b.get("sources") or [])
        out = (b.get("sink") or {}).get("numOutputRows", "")
        print(f"{b['runId'][:8]:>8} {b['batchId']:>5} {rows:>6} {out:>6}"
              f"{phase_cells(d.get(p, '') for p in PHASES)}")
    print("\nmedian ms per batch id")
    print(f"{'batch':>5} {'runs':>5}{phase_cells(PHASES)}")
    for i in sorted(by_id):
        ds = by_id[i]
        medians = (statistics.median(v) if (v := [d[p] for d in ds if p in d]) else "" for p in PHASES)
        print(f"{i:>5} {len(ds):>5}{phase_cells(medians)}")


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    jobs, ran, tasks, batches, sqls = read(argv[1])
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
    print_sqls(sqls, jobs)
    print_batches(batches)


if __name__ == "__main__":
    main(sys.argv)
