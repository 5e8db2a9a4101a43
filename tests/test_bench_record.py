"""Pure-Python tests for bench.py's record handling: rewriting a
round's BENCH_LOCAL record keeps every key the sweep did not write,
and the --scaling legs follow the host's core count."""

from __future__ import annotations

import json

import bench


def test_merge_prior_record_keeps_keys_the_sweep_did_not_write(tmp_path):
    path = tmp_path / "BENCH_LOCAL_r99.json"
    path.write_text(
        json.dumps(
            {
                "scaling": {"cpus_high": 4},
                "scaling_final_tree": {"cpus_high": 4, "note": "re-run"},
                "value": 1.0,
                "queries": {"a": 1.0},
            }
        )
    )
    out = bench._merge_prior_record({"value": 2.0, "queries": {"b": 2.0}}, str(path))
    assert out == {
        "scaling": {"cpus_high": 4},
        "scaling_final_tree": {"cpus_high": 4, "note": "re-run"},
        "value": 2.0,
        "queries": {"b": 2.0},
    }


def test_merge_prior_record_without_a_readable_prior(tmp_path):
    out = {"value": 2.0}
    assert bench._merge_prior_record(out, str(tmp_path / "missing.json")) == out
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert bench._merge_prior_record(out, str(bad)) == out


def test_scaling_legs_follow_host_cores(monkeypatch):
    for cores, legs in ((32, (32, 8)), (4, (4, 1)), (2, (2, 1)), (None, (1, 1))):
        monkeypatch.setattr(bench.os, "cpu_count", lambda c=cores: c)
        assert bench._scaling_legs() == legs
