"""The benchmark's record schema, its BENCHMARK.json and the tracing
plumbing, without starting Spark."""
import json
import os
import re

import pytest

import run
import tracing

SPEC = run.load_spec()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    assert 1 <= len(SPEC["end_to_end"]) <= 16
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert 1 <= len(SPEC["per_layer"]) <= 128
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_metric_names_and_units():
    names = [m["name"] for group in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[group]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")


def test_every_ratio_states_its_base():
    ratios = [m["name"] for m in SPEC["per_layer"] + SPEC["end_to_end"]
              if m["unit"] == "ratio"]
    assert ratios and set(ratios) == set(run.RATIO_BASES)


def _record(traced, metrics):
    return {"traced": traced, "output_ok": 1, "attempted": 4, "failed": 0,
            "per_layer": metrics if traced else {},
            "end_to_end": {} if traced else
            {k: {"value": v, "unit": "x", "samples": 1} for k, v in metrics.items()}}


def test_contract_line_has_exactly_the_declared_metrics():
    for traced, group in ((False, "end_to_end"), (True, "per_layer")):
        vals = {m["name"]: 1.5 for m in SPEC[group]}
        vals["not.declared"] = 2.0
        line = run.contract_line(_record(traced, vals), SPEC)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == {m["name"] for m in SPEC[group]}
        units = {m["name"]: m["unit"] for m in SPEC[group]}
        for k, v in line["metrics"].items():
            assert v == {"value": 1.5, "unit": units[k]}
        json.dumps(line)
    vals = {m["name"]: 1.0 for m in SPEC["end_to_end"][1:]}
    with pytest.raises(KeyError):
        run.contract_line(_record(False, vals), SPEC)


def test_tracer_spans_nest_and_share_a_run_id(tmp_path):
    tr = tracing.Tracer(True)
    tr.phase = "warm"
    with tr.span("pass"):
        with tr.span("operators.x", run="a"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert len(tr.durations("operators.x", phase="warm", run="a")) == 1
    assert tr.durations("operators.x", phase="cold") == []
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    assert {r["run_id"] for r in rows} == {tr.run_id}
    off = tracing.Tracer(False)
    with off.span("pass") as sp:
        pass
    assert off.spans == [] and sp["end"] >= sp["start"]


def test_event_log_counters_by_job_group(tmp_path):
    plan = {"nodeName": "BroadcastHashJoin", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": 50}]}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "warm-0",
                        "spark.sql.execution.id": "3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 2000},
                {"ID": 50, "Name": "number of output rows", "Value": "70"},
                {"ID": 60, "Name": "time to run Python workers", "Value": "1500"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 2, "Accumulables": [
                {"ID": 2, "Name": "internal.metrics.executorRunTime", "Value": 500},
                {"ID": 50, "Name": "number of output rows", "Value": "90"}]}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.parse_event_logs(str(tmp_path))
    c = got["warm-0"]["counters"]
    assert c["executor_run_s"] == pytest.approx(2.5)
    assert c["python_run_s"] == pytest.approx(1.5)
    assert c["tasks"] == 6
    # a SQL metric is global per plan node: its last value, not a sum
    assert got["warm-0"]["join_rows"] == 90


def test_rss_of_this_process_is_read_from_proc():
    assert tracing.rss_mb(os.getpid()) > 0
    assert os.getpid() in tracing.tree_pids(os.getpid())
