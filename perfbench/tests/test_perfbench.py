"""The benchmark's own tests. Pure Python: no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import stats
import telemetry
import worker
import workloads
from conftest import BENCH, ROOT


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_order(name):
    wl = workloads.WORKLOADS[name]
    assert wl.order(7) == wl.order(7)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_other_seed_same_set_other_order(name):
    # small stages have few permutations, so two seeds may coincide;
    # ten seeds must give the same set in more than one order
    wl = workloads.WORKLOADS[name]
    orders = {tuple(wl.order(seed)) for seed in range(10)}
    assert all(sorted(o) == sorted(wl.entries()) for o in orders)
    assert len(orders) > 1


def test_analyst_seeds_differ():
    wl = workloads.WORKLOADS["analyst_mix"]
    assert wl.order(1) != wl.order(2)


def test_seed_permutes_only_within_stages():
    wl = workloads.WORKLOADS["curation_pipeline"]
    stage_of = {op: i for i, (_, ops) in enumerate(wl.stages) for op in ops}
    for seed in range(20):
        stages = [stage_of[op] for op in wl.order(seed)]
        assert stages == sorted(stages)


def test_entries_exist_with_twins_and_no_repeats():
    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    registry = all_queries()
    for wl in workloads.WORKLOADS.values():
        ops = wl.entries() + list(wl.known_failing)
        assert len(ops) == len(set(ops)), wl.name
        for op in ops:
            assert registry[op].oracle, op


def test_p90_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.reportable(100, 0.9)
    assert not stats.reportable(99, 0.9)
    assert not stats.reportable(40, 0.9)
    assert stats.reportable(200, 0.9)


def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile([3.0], 0.9) == 3.0


def _spans(gap: float) -> list[dict]:
    # workload 0..10 with two requests; ``gap`` of harness time between
    # them and 0.6 s of store reads
    sp = [{"id": 0, "name": "workload", "start": 0.0, "end": 10.0, "parent": None}]

    def add(name, a, b, parent):
        sp.append({"id": len(sp), "name": name, "start": a, "end": b, "parent": parent})
        return len(sp) - 1

    mid = 5.0 - gap
    r = add("request", 0.0, mid, 0)
    add("call", 0.0, 1.0, r)
    add("action", 1.0, mid, r)
    r = add("request", 5.0, 9.4, 0)
    add("call", 5.0, 6.0, r)
    add("action", 6.0, 9.4, r)
    add("read_stores", 9.4, 10.0, 0)
    return sp


def test_self_times_reconcile_with_window():
    rec = stats.reconcile(_spans(gap=0.1), window=10.0)
    assert rec["self_sum_s"] == pytest.approx(10.0)
    assert rec["unattributed_share"] == pytest.approx(0.01)
    assert rec["tracing_share"] == pytest.approx(0.06)
    assert rec["ok"]


def test_reconcile_flags_unattributed_time():
    rec = stats.reconcile(_spans(gap=1.0), window=10.0)
    assert rec["unattributed_share"] > stats.RECONCILE_TOLERANCE
    assert not rec["ok"]


def test_self_time_overlapping_children_counted_once():
    sp = [
        {"id": 0, "name": "p", "start": 0.0, "end": 4.0, "parent": None},
        {"id": 1, "name": "c", "start": 0.0, "end": 2.0, "parent": 0},
        {"id": 2, "name": "c", "start": 1.0, "end": 3.0, "parent": 0},
    ]
    assert stats.self_times(sp)[0] == pytest.approx(1.0)


def test_record_never_overwritten(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "RUNS", str(tmp_path))
    rec = {"workload": "scale_batch", "seed": 1, "trace": 0, "n": 1}
    first = run.write_record(rec)
    second = run.write_record({**rec, "n": 2})
    assert first != second
    with open(first) as f:
        assert json.load(f)["n"] == 1
    with open(second) as f:
        assert json.load(f)["n"] == 2


def test_parse_sql_metric_strings():
    p = telemetry.parse_metric
    assert p("515 ms") == pytest.approx(0.515)
    assert p("1.8 s") == pytest.approx(1.8)
    assert p("53.1 KiB") == pytest.approx(53.1 * 1024)
    assert p("1,234") == 1234
    assert p("total (min, med, max (stageId: taskId))\n331 ms (130 ms, 201 ms)") == (
        pytest.approx(0.331)
    )


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_result() -> dict:
    req = {"op": "x", "module": "relational", "call_s": 0.1, "action_s": 0.2, "latency_s": 0.3}
    known = {"op": "y", "module": "seed_pipeline", "call_s": 0.05, "action_s": 0.0,
             "error": "AnalysisException"}
    return {
        "requests": [req],
        "known_failing": [known],
        "setup_s": 2.0,
        "setup_stolen_share": 0.0,
        "makespan_s": 1.0,
        "window_stolen_share": 0.0,
        "peak_rss_mb": 100.0,
        "get_spark_s": 0.5,
        "streaming": telemetry.StreamListener().counters(),
        "session_cache": {"rdds_persisted": 0, "storage_mb": 0.0},
    }


def test_times_keep_the_unstolen_share():
    res = {**_fake_result(), "setup_stolen_share": 0.5, "window_stolen_share": 0.25}
    e2e, raw = run.end_to_end(res), run.end_to_end(res, correct_steal=False)
    assert e2e["setup_s"][0] == pytest.approx(1.0)
    assert raw["setup_s"][0] == pytest.approx(2.0)
    assert e2e["makespan_s"][0] == pytest.approx(0.75)
    assert raw["makespan_s"][0] == pytest.approx(1.0)
    assert e2e["peak_rss_mb"] == raw["peak_rss_mb"]


def test_stolen_share_of_runnable_time():
    # 300 busy ticks and 100 stolen: a quarter of runnable time stolen
    assert worker.stolen_share((1000, 50), (1300, 150)) == pytest.approx(0.25)
    # twice the work at the same contention keeps the share
    assert worker.stolen_share((1000, 50), (1600, 250)) == pytest.approx(0.25)
    assert worker.stolen_share((5, 5), (5, 5)) == 0.0


def test_known_failing_time_counts_in_its_module():
    layer = run.per_layer(_fake_result(), cpus=4)
    assert layer["plans.seed_pipeline.call_s"] == (0.05, "s")
    assert layer["plans.relational.action_s"] == (0.2, "s")


def test_descendants_follow_parents_not_groups():
    # 10 -> 11 (JVM) -> 12 (daemon, own process group) -> 13, 14
    parents = {10: 1, 11: 10, 12: 11, 13: 12, 14: 12, 20: 1, 21: 20}
    assert run.descendants(10, parents) == {10, 11, 12, 13, 14}
    assert run.descendants(12, parents) == {12, 13, 14}


def test_every_plan_module_measured_on_a_listed_workload():
    # a layer no listed workload exercises would always read 0
    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    registry = all_queries()
    listed = {w["name"] for w in _bench_json()["workloads"]}
    seen = set()
    for name in listed:
        wl = workloads.WORKLOADS[name]
        seen.update(worker._module(registry[op]) for op in wl.entries() + list(wl.known_failing))
    assert seen == set(workloads.PLAN_MODULES)


def test_benchmark_json_matches_reported_metrics():
    bench = _bench_json()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    res = _fake_result()
    assert sorted(m["name"] for m in bench["end_to_end"]) == sorted(run.end_to_end(res))
    layer = run.per_layer(res, cpus=4)
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    for name, (_, unit) in {**layer, **run.end_to_end(res)}.items():
        assert units[name] == unit, name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", "runs"))
    cmd = _bench_json()["command"] + ["--workload", "analyst_mix", "--seed", "1",
                                      "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
