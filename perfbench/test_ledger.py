"""Unit tests of the event-log ledger over a small recorded fixture
(fixtures/record_eventlog.py made it):

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ledger import SQL_AQE, EventLog, Ledger, idle_time, is_python  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "small_eventlog.jsonl")


def _ledger() -> Ledger:
    with open(os.path.join(HERE, "fixtures", "small_spans.json")) as fh:
        spans = json.load(fh)
    return Ledger(EventLog.read(FIXTURE), spans)


def test_fixture_has_adaptive_plan_updates():
    with open(FIXTURE) as fh:
        kinds = [json.loads(line)["Event"] for line in fh]
    assert SQL_AQE in kinds


def test_jobs_are_counted_per_span():
    L = _ledger()
    udf, anti = L.named("udf"), L.named("anti")
    assert len(L.jobs(udf)) >= 1
    # the anti join ran on a worker thread: no description, attributed by time
    anti_jobs = L.jobs(anti)
    assert anti_jobs and all(j.description is None for j in anti_jobs)
    assert len(L.jobs(udf)) + len(anti_jobs) == len(L.log.jobs)


def test_python_node_metrics_survive_plan_updates():
    L = _ledger()
    py = L.nodes(L.named("udf"), is_python)
    # one node however many plans adaptive execution published for it
    assert [n.name for n in py] == ["ArrowEvalPython"]
    assert L.total(py, "number of output rows") == 100
    assert L.total(py, "data sent to Python workers") > 0
    assert L.stage_run_s(L.named("udf"), py) > 0
    assert L.nodes(L.named("anti"), is_python) == []


def test_anti_join_input_rows():
    L = _ledger()
    anti = L.nodes(L.named("anti"), lambda n: "LeftAnti" in n.text)
    assert anti
    # the newest plan wins: exactly one join node carries the row counts
    assert max(L.rows_in(n, 0) for n in anti) == 50
    assert max(L.total([n], "number of output rows") for n in anti) == 30


def test_engine_totals():
    L = _ledger()
    both = L.named("udf") + L.named("anti")
    e = L.engine(both, wall_s=1.0, cores=2)
    assert e["tasks"] == sum(st.tasks for st in L.stages(both)) > 0
    assert e["executor.run_s"] > 0
    assert e["shuffle.write_bytes"] > 0


def test_idle_time():
    assert idle_time(0.0, 10.0, []) == 10.0
    assert idle_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == 5.0
    assert idle_time(0.0, 10.0, [(-5.0, 20.0)]) == 0.0


def test_benchmark_json_names_match_the_code():
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
