"""fold_jobs / format_group: the event-log folding behind
tools/eventlog_timeline."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from eventlog_timeline import fold_jobs, format_group, main

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _job(jid, t, group, site=None, sql=None):
    props = {} if group is None else {"spark.jobGroup.id": group}
    if site:
        props["callSite.short"] = site
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": [jid], "Properties": props,
            "Stage Infos": [{"Stage Name": "parquet at NativeMethodAccessorImpl.java:0"}]}


def _end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


EVENTS = [
    {"Event": _SQL_START, "executionId": 7, "physicalPlanDescription": "initial"},
    _job(1, 1000, "batch-1", "collect at /x/y/synch_spark/streaming/pipeline.py:259", 7),
    _end(1, 1030),
    {"Event": _SQL_UPDATE, "executionId": 7,
     "physicalPlanDescription": "final Location: InMemoryFileIndex [file:/a/b/c.json]"},
    _job(2, 1100, "batch-1"),
    _end(2, 1150),
    _job(3, 1200, None),  # no group: not folded
    _end(3, 1210),
    _job(4, 2000, "batch-2", "collect at /x/synch_spark/sources/bloom.py:217"),
    _end(4, 2500),
    _job(5, 2600, "batch-2", "call at /usr/lib/python3/site-packages/py4j/clientserver.py:644"),
    _end(5, 2650),
]


def test_fold_jobs_groups_sites_and_final_plan():
    groups, plans = fold_jobs(EVENTS)
    assert sorted(groups) == ["batch-1", "batch-2"]
    b1 = groups["batch-1"]
    assert [(j["id"], j["start"], j["end"], j["sql"]) for j in b1] == [
        (1, 1000, 1030, 7), (2, 1100, 1150, None)]
    # the call site loses its checkout prefix; no call site falls back
    # to the stage name
    assert b1[0]["site"] == "collect at synch_spark/streaming/pipeline.py:259"
    assert b1[1]["site"] == "parquet at NativeMethodAccessorImpl.java:0"
    assert [j["site"] for j in groups["batch-2"]] == [
        "collect at synch_spark/sources/bloom.py:217",
        "call at clientserver.py:644"]
    assert plans[7].startswith("final")
    head = format_group("batch-1", b1).splitlines()[0]
    assert head == "== batch-1: 2 jobs, job time 0.080 s, span 0.150 s"


def test_main_prints_groups_and_plan(tmp_path, capsys):
    log = tmp_path / "events_1_app"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    assert main([str(tmp_path), "--group-prefix", "batch-2"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("== batch-2: 2 jobs") and "batch-1" not in out
    assert main([str(log), "--plan", "batch-1", "pipeline.py"]) == 0
    assert capsys.readouterr().out.strip() == \
        "final Location: InMemoryFileIndex [file:.../c.json]"
    assert main([str(log), "--plan", "batch-2", "pipeline.py"]) == 1
