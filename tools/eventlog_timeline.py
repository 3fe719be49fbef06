"""Per-job-group Spark job timelines from an uncompressed event log.

Run the application with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and a job group per unit of work
(``sc.setJobGroup("batch-7", ...)``), then:

    python tools/eventlog_timeline.py EVENT_LOG [--group-prefix batch-]
    python tools/eventlog_timeline.py EVENT_LOG --plan GROUP CALLSITE

EVENT_LOG is an event-log file or a rolling event-log directory
(``events_<n>_<app>`` files). The first form prints, per job group,
one line per job: its start offset from the group's first job, its
duration, its SQL execution id and the Python call site that launched
it; then the group's job count, summed job time and wall span. The
second prints the final ``explain("formatted")`` plan (the adaptive
plan's last update) of the first SQL execution in GROUP whose call
site contains CALLSITE.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_events(path: str):
    """Events in log order from one file or a rolling-log directory."""
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                yield json.loads(line)


def _site(props: dict, stage_infos: list) -> str:
    site = props.get("callSite.short") or (
        stage_infos[0]["Stage Name"] if stage_infos else "?")
    # checkouts differ per host: keep a path from the package root on,
    # any other path as its basename
    site = re.sub(r"\S*/(synch_spark/)", r"\1", site)
    return re.sub(r"(?<![\w.])/\S*/", "", site)


def fold_jobs(events) -> tuple[dict, dict]:
    """({group: [job dict, ...]}, {sql execution id: final plan text})."""
    groups: dict[str, list] = {}
    by_id: dict[int, dict] = {}
    plans: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            sql = props.get("spark.sql.execution.id")
            job = {"id": e["Job ID"], "start": e["Submission Time"],
                   "end": None, "site": _site(props, e.get("Stage Infos", [])),
                   "sql": None if sql is None else int(sql),
                   "stages": len(e.get("Stage IDs", []))}
            by_id[job["id"]] = job
            groups.setdefault(group, []).append(job)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in by_id:
            by_id[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind in (_SQL_START, _SQL_UPDATE):
            plans[e["executionId"]] = e["physicalPlanDescription"]
    return groups, plans


def format_group(name: str, jobs: list) -> str:
    t0 = min(j["start"] for j in jobs)
    t1 = max(j["end"] or j["start"] for j in jobs)
    busy = sum((j["end"] or j["start"]) - j["start"] for j in jobs)
    lines = [f"== {name}: {len(jobs)} jobs, job time {busy / 1000:.3f} s, "
             f"span {(t1 - t0) / 1000:.3f} s"]
    for j in jobs:
        dur = ((j["end"] or j["start"]) - j["start"]) / 1000
        sql = "-" if j["sql"] is None else str(j["sql"])
        lines.append(f"  +{(j['start'] - t0) / 1000:7.3f} s {dur:7.3f} s  "
                     f"job {j['id']:>4}  sql {sql:>4}  stages {j['stages']}  "
                     f"{j['site']}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("event_log")
    ap.add_argument("--group-prefix", default="")
    ap.add_argument("--plan", nargs=2, metavar=("GROUP", "CALLSITE"))
    args = ap.parse_args(argv)
    groups, plans = fold_jobs(read_events(args.event_log))
    if args.plan:
        group, site = args.plan
        for j in groups.get(group, []):
            if site in j["site"] and j["sql"] in plans:
                # scan locations name host paths; keep their basenames
                print(re.sub(r"file:/\S*/", "file:.../", plans[j["sql"]]))
                return 0
        print(f"no SQL execution in {group!r} at {site!r}", file=sys.stderr)
        return 1
    for name, jobs in groups.items():
        if name.startswith(args.group_prefix):
            print(format_group(name, jobs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
