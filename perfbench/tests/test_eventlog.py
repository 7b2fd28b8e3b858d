"""The event-log parser against a small canned log (data/eventlog_small.jsonl)."""

import os

import pytest

from perfbench import eventlog as EL

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return EL.load(LOG)


def test_phase_selects_tagged_work_only(log):
    ph = EL.phase(log, "warm:1", "file:/data/in")
    assert (ph["sql_executions"], ph["jobs"], ph["tasks"]) == (1, 1, 3)
    assert ph["write_executions"] == 1
    check = EL.phase(log, "check", "file:/data/in")
    assert (check["sql_executions"], check["tasks"]) == (1, 1)


def test_sql_metrics_sum_task_and_driver_updates(log):
    m = EL.phase(log, "warm:1", "file:/data/in")["metrics"]
    assert m["fact_scan/number of output rows"] == 100
    assert m["fact_scan/size of files read"] == 2048
    # the dimension scan under the broadcast is not a fact scan
    assert m["Scan/number of output rows"] == 7
    assert m["Exchange/shuffle bytes written"] == 512
    assert m["Exchange/shuffle write time"] == pytest.approx(0.003)  # ns -> s
    assert m["BroadcastExchange/data size"] == 4096
    assert m["BroadcastExchange/time to collect"] == pytest.approx(0.020)  # ms -> s
    assert m["Sort/sort time"] == pytest.approx(0.007)
    assert m["Execute/number of written files"] == 2
    assert m["Execute/task commit time"] == pytest.approx(0.004)
    # metrics of nodes that appear only in the adaptive re-plan count too
    assert m["ArrowEvalPython/number of output rows"] == 100
    assert m["ArrowEvalPython/time to run Python workers"] == pytest.approx(0.050)
    # AQE metric updates carry no node: a name only ArrowEvalPython uses is
    # attributed to it, an ambiguous one is not
    assert m["ArrowEvalPython/data sent to Python workers"] == 2 * (1000 + 24)
    assert m["?/number of output rows"] == 6


def test_plan_counts_and_task_totals(log):
    ph = EL.phase(log, "warm:1", "file:/data/in")
    assert ph["fact_bhj_per_write"] == 1
    assert ph["broadcast_exchanges"] == 1
    assert ph["bcast_bytes_per_write"] == 4096
    # no task ran during [1000, 1500] and [1900, 2000] of the execution
    assert ph["idle_s"] == pytest.approx(0.6)
    assert EL.phase(log, "warm:1", "file:/data/in", (1200, 1800))["idle_s"] == pytest.approx(0.3)
    assert ph["write_exec_wall_s"] == pytest.approx(1.0)
    assert ph["cpu_s"] == pytest.approx(0.1)
    assert ph["gc_s"] == pytest.approx(0.015)
    assert ph["spill_bytes"] == 64
    assert ph["task_skew"] == pytest.approx(300 / 200)  # post-shuffle max / median


def test_plan_fingerprint_ignores_expression_ids(log):
    fp = EL.plan_fingerprint(log, "warm:1")
    assert len(fp) == 16
    assert EL.plan_fingerprint(log, "check") != fp
    ex = log.executions[0]
    ex.initial_text = ex.initial_text.replace("#99", "#4711")
    assert EL.plan_fingerprint(log, "warm:1") == fp
    ex.plan_text = ex.plan_text.replace("BuildRight", "BuildLeft")  # AQE's choice
    assert EL.plan_fingerprint(log, "warm:1") == fp
    ex.initial_text = ex.initial_text.replace("BuildRight", "BuildLeft")
    assert EL.plan_fingerprint(log, "warm:1") != fp
