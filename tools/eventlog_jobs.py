#!/usr/bin/env python3
"""One row per Spark job from a Spark event log.

  python3 tools/eventlog_jobs.py <event-log-dir> [--jobs N-M] [--by-site | --sql-split]

For every application log in the directory (oldest first), prints per
job: the job id, the SQL execution id that submitted it (`-` if none),
the stages that ran with their task counts (`name (tasks)`, joined by
`; `), the summed executor run time of those stages' tasks in ms, and
the job's wall time (submission to completion) in ms. A stage is counted
in the first job that lists it; later jobs that reuse its shuffle output
skip it. `--jobs N-M` keeps only job ids N..M (inclusive).

`--by-site` prints one row per call site instead, most jobs first: the
number of jobs, their summed wall time and summed executor run time. A
job that a SQL execution submitted is keyed by the execution's
description plus the first `graft.` frame of its call stack (the
execution's `details`), so e.g. every `count()` of the serving sink's
write is one site; any other job is keyed by its result stage's name
(`count at Sinks.scala:95`).

`--sql-split` prints one row per call site of SQL executions, most time
first: the number of executions and their summed wall time, split into
the time before the execution's first job started (driver-side planning),
from its first job's start to its last job's end (inside jobs), and after
its last job ended (e.g. a write's commit). An execution that ran no job
counts whole as "before". Sites are keyed as for `--by-site`; with
`--jobs`, only executions that ran a kept job are shown.

Spark 4 writes each application's log as a rolling-log directory
(`eventlog_v2_<app>/events_<n>_<app>[.zstd]`); its parts are read in
order, and a plain single-file log is read as it is. Parts compressed
with zstd (Spark 4's default event-log codec) are read through the
`zstd` command-line tool.

Event logs need no code change to turn on, e.g. for the benchmark:

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
    -Dspark.eventLog.dir=file:///tmp/eventlogs" \\
    python3 perfbench/run.py --workload curate_stream --seed 7 --seconds 30 --trace 0

Nor does a census of generated-code compiles: `tools/log4j2-codegen.properties`
keeps the root logger at WARN and logs one `CodeGenerator: Code generated
in N ms` line per compiled class (add it to the same JAVA_TOOL_OPTIONS):

  JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$PWD/tools/log4j2-codegen.properties" \\
    python3 perfbench/run.py --workload elt_backfill --seed 11 --seconds 30 --trace 0 \\
    2>&1 | grep -c "Code generated"
"""
import argparse
import json
import os
import subprocess
import sys


def app_logs(path):
    """The application logs in `path`, oldest first; each is the list of
    its files in reading order."""
    logs = []
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            logs.append([os.path.join(p, f) for f in parts])
        elif not name.startswith("."):
            logs.append([p])
    return sorted((files for files in logs if files),
                  key=lambda files: os.path.getmtime(files[0]))


def events(files):
    for f in files:
        if f.endswith(".zstd"):
            text = subprocess.run(["zstd", "-dcq", f], check=True,
                                  stdout=subprocess.PIPE).stdout.decode()
        elif f.endswith((".lz4", ".lzf", ".snappy")):
            raise SystemExit(f"{f}: only zstd-compressed or plain logs are read")
        else:
            with open(f) as fh:
                text = fh.read()
        for line in text.splitlines():
            # an in-progress log may end in a partly written line
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                pass


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def graft_frame(details):
    """The first `graft.` frame of a call stack, or `-`."""
    for line in (details or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return "-"


def jobs_of(evs):
    """(job rows, SQL executions, application name) from one
    application's events."""
    jobs, stage_job, stages, app, sql, spans = {}, {}, {}, "?", {}, {}
    for e in evs:
        kind = e.get("Event")
        if kind == SQL_START:
            sql[str(e.get("executionId"))] = (
                f"{e.get('description', '?')} @ {graft_frame(e.get('details'))}")
            spans[str(e.get("executionId"))] = [e.get("time"), None]
        elif kind == SQL_END:
            span = spans.get(str(e.get("executionId")))
            if span is not None:
                span[1] = e.get("time")
        elif kind == "SparkListenerApplicationStart":
            app = e.get("App ID") or e.get("App Name", "?")
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            names = {s["Stage ID"]: s.get("Stage Name", "?")
                     for s in e.get("Stage Infos", [])}
            jobs[jid] = {"exec": props.get("spark.sql.execution.id", "-"),
                         "start": e.get("Submission Time"), "end": None,
                         "stages": [],
                         "result": names[max(names)] if names else "?"}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, {"name": info.get("Stage Name", "?"),
                                         "tasks": 0, "run_ms": 0})
            st["tasks"] += info.get("Number of Tasks", 0)
            jid = stage_job.get(sid)
            if jid in jobs and sid not in jobs[jid]["stages"]:
                jobs[jid]["stages"].append(sid)
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e.get("Stage ID"))
            metrics = e.get("Task Metrics") or {}
            if st is not None:
                st["run_ms"] += metrics.get("Executor Run Time", 0)
    rows = []
    for jid in sorted(jobs):
        j = jobs[jid]
        wall = (j["end"] - j["start"]) if j["end"] and j["start"] else None
        ran = [stages[s] for s in j["stages"]]
        site = sql.get(j["exec"]) or j["result"]
        rows.append({"job": jid, "exec": j["exec"], "site": site,
                     "stages": "; ".join(f"{s['name']} ({s['tasks']})" for s in ran),
                     "tasks": sum(s["tasks"] for s in ran),
                     "run_ms": sum(s["run_ms"] for s in ran),
                     "start": j["start"], "end": j["end"], "wall_ms": wall})
    executions = [{"exec": x, "site": sql[x], "start": t0, "end": t1}
                  for x, (t0, t1) in spans.items() if t0 is not None and t1]
    return rows, executions, app


def print_jobs(rows):
    print(f"  {'job':>5} {'exec':>5} {'tasks':>5} {'run_ms':>8} {'wall_ms':>8}  stages")
    for r in rows:
        wall = "-" if r["wall_ms"] is None else r["wall_ms"]
        print(f"  {r['job']:>5} {r['exec']:>5} {r['tasks']:>5} {r['run_ms']:>8} "
              f"{wall:>8}  {r['stages']}")


def print_sites(rows):
    sites = {}
    for r in rows:
        s = sites.setdefault(r["site"], {"jobs": 0, "wall_ms": 0, "run_ms": 0})
        s["jobs"] += 1
        s["wall_ms"] += r["wall_ms"] or 0
        s["run_ms"] += r["run_ms"]
    print(f"  {'jobs':>5} {'wall_ms':>8} {'run_ms':>8}  site")
    for site, s in sorted(sites.items(), key=lambda kv: (-kv[1]["jobs"], kv[0])):
        print(f"  {s['jobs']:>5} {s['wall_ms']:>8} {s['run_ms']:>8}  {site}")


def print_sql_split(rows, executions):
    """Per call site: SQL-execution time before, inside and after its jobs."""
    by_exec = {}
    for r in rows:
        if r["start"] is not None and r["end"] is not None:
            by_exec.setdefault(r["exec"], []).append(r)
    sites = {}
    for x in executions:
        s = sites.setdefault(x["site"], {"n": 0, "wall": 0, "before": 0,
                                         "inside": 0, "after": 0})
        wall = x["end"] - x["start"]
        js = by_exec.get(x["exec"], [])
        first = min((j["start"] for j in js), default=x["end"])
        last = max((j["end"] for j in js), default=x["end"])
        s["n"] += 1
        s["wall"] += wall
        s["before"] += first - x["start"]
        s["inside"] += last - first
        s["after"] += x["end"] - last
    print(f"  {'execs':>5} {'wall_ms':>8} {'before':>8} {'inside':>8} "
          f"{'after':>8}  site")
    for site, s in sorted(sites.items(), key=lambda kv: (-kv[1]["wall"], kv[0])):
        print(f"  {s['n']:>5} {s['wall']:>8} {s['before']:>8} {s['inside']:>8} "
              f"{s['after']:>8}  {site}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", help="event-log directory (spark.eventLog.dir)")
    ap.add_argument("--jobs", help="job id range N-M (inclusive)")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--by-site", action="store_true",
                      help="one row per call site instead of per job")
    mode.add_argument("--sql-split", action="store_true",
                      help="per call site, SQL-execution time before, "
                           "inside and after its jobs")
    a = ap.parse_args()
    lo, hi = 0, sys.maxsize
    if a.jobs:
        n, _, m = a.jobs.partition("-")
        lo, hi = int(n), int(m or n)
    logs = app_logs(a.path)
    if not logs:
        raise SystemExit(f"no event logs under {a.path}")
    for files in logs:
        rows, executions, app = jobs_of(events(files))
        rows = [r for r in rows if lo <= r["job"] <= hi]
        print(f"{app}: {len(rows)} jobs, {sum(r['tasks'] for r in rows)} tasks")
        if a.sql_split:
            if a.jobs:
                kept = {r["exec"] for r in rows}
                executions = [x for x in executions if x["exec"] in kept]
            print_sql_split(rows, executions)
        else:
            (print_sites if a.by_site else print_jobs)(rows)


if __name__ == "__main__":
    main()
