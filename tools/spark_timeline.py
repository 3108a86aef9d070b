#!/usr/bin/env python3
"""Timeline of one Spark application from its event log.

Prints every SQL execution and every job in start order with its call
site (after its job description, when one is set), task count and task time, and the driver-only gaps between jobs
(wall time in which no job ran: planning, driver loops, collects being
consumed, JVM start-up and shut-down). Ends with totals.

Usage:
  python3 tools/spark_timeline.py EVENT_LOG [--min-gap SECONDS]

EVENT_LOG is what Spark wrote under spark.eventLog.dir with
spark.eventLog.enabled=true: a file (`local-…`, or `….zstd` when
compressed, read through the `zstd` command) or a rolling log's
directory (`eventlog_v2_local-…`, Spark 4's default). A graft.Main run that writes one:

  java … -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \\
    graft.Main configs/epoch-pack-example.toml
"""
import argparse
import json
import os
import shutil
import subprocess
import sys


def events(path):
    if os.path.isdir(path):  # a rolling log: eventlog_v2_<app>/events_<n>_<app>
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        for f in sorted(parts, key=lambda f: int(f.split("_")[1])):
            yield from events(os.path.join(path, f))
        return
    if path.endswith(".zstd"):
        if shutil.which("zstd") is None:
            sys.exit("reading a .zstd event log needs the zstd command")
        text = subprocess.run(["zstd", "-dc", path], check=True,
                              capture_output=True).stdout.decode("utf-8")
    else:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    for line in text.splitlines():
        if line.strip():
            yield json.loads(line)


def short(event_name):
    return event_name.rsplit(".", 1)[-1]


def load(path):
    app = {"start": None, "end": None}
    sqls, jobs = {}, {}
    tasks = {}  # stage id -> [count, executor run ms]
    for e in events(path):
        kind = short(e["Event"])
        if kind == "SparkListenerApplicationStart":
            app["start"] = e["Timestamp"]
        elif kind == "SparkListenerApplicationEnd":
            app["end"] = e["Timestamp"]
        elif kind == "SparkListenerSQLExecutionStart":
            # Spark puts a set job description in place of the call site;
            # rebuild the call site from the stack in "details"
            site = e.get("description", "")
            stack = (e.get("details") or "").splitlines()
            if len(stack) > 1 and "(" in stack[0] and "(" in stack[1]:
                call = (stack[0].split("(")[0].rsplit(".", 1)[-1] + " at " +
                        stack[1].rsplit("(", 1)[-1].rstrip(")"))
                if call != site:
                    site = f"<{site}> {call}"
            sqls[e["executionId"]] = {"start": e["time"], "end": None,
                                      "site": site}
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in sqls:
                sqls[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            first = min(infos, key=lambda s: s["Stage ID"]) if infos else {}
            sql = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "sql": int(sql) if sql is not None else None,
                "site": props.get("callSite.short") or first.get("Stage Name", ""),
                "desc": props.get("spark.job.description"),
                "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = tasks.setdefault(e["Stage ID"], [0, 0])
            t[0] += 1
            t[1] += m.get("Executor Run Time", 0)
    for j in jobs.values():
        # a job an AQE stage submits carries a thread-pool call site;
        # its SQL execution's call site says what ran
        if j["sql"] in sqls:
            j["site"] = f"[sql {j['sql']}] {sqls[j['sql']]['site']}"
        # the job description a transform stage runs under
        # ("<pipeline>/<stage>"); an SQL execution's site already shows it
        if j["desc"] and j["desc"] not in j["site"]:
            j["site"] = f"<{j['desc']}> {j['site']}"
        j["tasks"] = sum(tasks.get(s, [0, 0])[0] for s in j["stages"])
        j["task_ms"] = sum(tasks.get(s, [0, 0])[1] for s in j["stages"])
    return app, sqls, jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("event_log")
    ap.add_argument("--min-gap", type=float, default=0.05,
                    help="print driver-only gaps at least this long (s)")
    a = ap.parse_args()
    app, sqls, jobs = load(a.event_log)
    done = [j for j in jobs.values() if j["end"] is not None]
    t0 = app["start"] or min([j["start"] for j in done] +
                             [s["start"] for s in sqls.values()], default=0)
    t_end = app["end"] or max([j["end"] for j in done] +
                              [s["end"] or 0 for s in sqls.values()], default=t0)
    rows = [(s["start"], 0, "sql", sid, (s["end"] or t_end) - s["start"],
             "", "", s["site"]) for sid, s in sqls.items()]
    rows += [(j["start"], 1, "job", jid, (j["end"] or t_end) - j["start"],
              j["tasks"], f"{j['task_ms'] / 1e3:.2f}", j["site"])
             for jid, j in jobs.items()]
    # driver-only gaps: wall time covered by no job
    gaps, busy_until = [], t0
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        gaps.append((busy_until, max(0, j["start"] - busy_until)))
        busy_until = max(busy_until, j["end"] or t_end)
    gaps.append((busy_until, max(0, t_end - busy_until)))
    rows += [(start, 2, "gap", "", dur, "", "", "driver only")
             for start, dur in gaps if dur >= a.min_gap * 1000]
    print(f"{'start_s':>8} {'dur_s':>7} {'kind':<4} {'id':>4} "
          f"{'tasks':>5} {'task_s':>7}  call site")
    for start, _, kind, rid, dur, ntask, task_s, site in sorted(rows, key=lambda r: r[:2]):
        indent = "  " if kind == "job" else ""
        print(f"{(start - t0) / 1e3:8.3f} {dur / 1e3:7.3f} {kind:<4} "
              f"{rid!s:>4} {ntask!s:>5} {task_s:>7}  {indent}{site}")
    print(f"\nwall {(t_end - t0) / 1e3:.3f} s, {len(sqls)} SQL executions, "
          f"{len(jobs)} jobs, {sum(j['tasks'] for j in jobs.values())} tasks, "
          f"task time {sum(j['task_ms'] for j in jobs.values()) / 1e3:.2f} s, "
          f"driver-only {sum(d for _, d in gaps) / 1e3:.3f} s")


if __name__ == "__main__":
    main()
