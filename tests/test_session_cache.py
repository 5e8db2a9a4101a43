"""Unit tests for the front store's hygiene rules
(pe_firm_investment_database_pipeline_spark/functions/session_cache.py):
locked double-checked memoization, dataset-fingerprint re-keying, the
stale-application sweep, and targeted eviction. The pure tests need no
SparkSession (a stand-in carries the application id; ``front`` is
type-agnostic); the last test drives a real staging site."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading

import pytest

from pe_firm_investment_database_pipeline_spark.functions import session_cache as sc

PKG = pathlib.Path(sc.__file__).resolve().parents[1]


class _FakeFrame:
    def __init__(self) -> None:
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True
        return self


class _FakeSpark:
    """Just enough of a SparkSession for ``front``: an application id."""

    def __init__(self, app: str) -> None:
        self.sparkContext = type("Ctx", (), {"applicationId": app})()


@pytest.fixture
def store(monkeypatch):
    """An empty private store, so these tests neither see nor sweep
    the fronts of the live test session."""
    monkeypatch.setattr(sc, "_STORE", {})
    return sc._STORE


def test_front_builds_once_and_hits(store):
    calls = []

    def build():
        calls.append(1)
        return _FakeFrame()

    spark = _FakeSpark("app-1")
    first = sc.front(spark, "dir", "x", build)
    second = sc.front(spark, "dir", "x", build)
    assert first is second
    assert len(calls) == 1
    # the name and the extra key components discriminate
    assert sc.front(spark, "dir", "y", build) is not first
    assert sc.front(spark, "dir", "x", build, "sub") is not first
    assert len(calls) == 3


def _race(n: int, fn, timeout: float) -> None:
    """Run ``fn`` on ``n`` threads released together by a barrier."""
    gate = threading.Barrier(n)

    def run():
        gate.wait()
        fn()

    ts = [threading.Thread(target=run) for _ in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout)
    assert not any(t.is_alive() for t in ts)


def test_front_concurrent_miss_builds_once(store):
    """Threads racing the same cold key must share one build (a
    check-then-insert pattern builds twice, leaking one checkpoint's
    blocks until application exit): two threads, then eight with a
    shortened switch interval."""
    old_interval = sys.getswitchinterval()
    try:
        for n, switch in ((2, old_interval), (8, 1e-6)):
            sys.setswitchinterval(switch)
            calls = []
            results = []

            def build():
                calls.append(1)
                return _FakeFrame()

            def call(key=f"x{n}", build=build):
                results.append(sc.front(_FakeSpark("app-1"), "d", key, build))

            _race(n, call, 10)
            assert len(calls) == 1
            assert len(results) == n
            assert all(r is results[0] for r in results)
    finally:
        sys.setswitchinterval(old_interval)


def test_miss_sweeps_stale_apps_out_of_all_caches(store):
    """A miss on ONE front evicts dead-application entries of EVERY
    front — dead entries must not hide under a name that never
    misses."""
    store[("old-app", "d", (0, 0), "a")] = _FakeFrame()
    store[("app-2", "d", (0, 0), "b")] = _FakeFrame()
    sc.front(_FakeSpark("app-2"), "d", "k", _FakeFrame)
    assert {k[0] for k in store} == {"app-2"}
    assert {k[3] for k in store} == {"b", "k"}


def test_dataset_fingerprint_changes_on_rewrite(tmp_path):
    """Rewriting any table under sf_dir changes the fingerprint, so
    the front key changes and consumers rebuild instead of serving a
    checkpoint of the old data."""
    p = tmp_path / "t.parquet"
    p.write_bytes(b"v1")
    fp1 = sc.dataset_fingerprint(str(tmp_path))
    os.utime(p, ns=(1, 1))
    fp_old = sc.dataset_fingerprint(str(tmp_path))
    assert fp_old != fp1 or fp_old[1] == fp1[1]
    p.write_bytes(b"v2-longer")
    fp2 = sc.dataset_fingerprint(str(tmp_path))
    assert fp2 != fp_old
    # nested part-file layout is covered too
    d = tmp_path / "u.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"xx")
    assert sc.dataset_fingerprint(str(tmp_path)) != fp2


def test_front_rekeys_on_dataset_rewrite(store, tmp_path):
    spark = _FakeSpark("app-1")
    (tmp_path / "t.parquet").write_bytes(b"v1")
    first = sc.front(spark, str(tmp_path), "x", _FakeFrame)
    (tmp_path / "t.parquet").write_bytes(b"v2-longer")
    second = sc.front(spark, str(tmp_path), "x", _FakeFrame)
    assert second is not first
    assert sc.front(spark, str(tmp_path), "x", _FakeFrame) is second


def test_dataset_fingerprint_missing_dir_is_stable():
    assert sc.dataset_fingerprint("/nonexistent/path/xyz") == (0, 0)


def test_evict_staged_unpersists_and_clears(store):
    f = sc.front(_FakeSpark("app-1"), "d", "x", _FakeFrame)
    sc.front(_FakeSpark("app-1"), "d", "path", lambda: "/tmp/staged")
    n = sc.evict_staged()
    assert n == 2
    assert f.unpersisted
    assert not store


def test_evict_drops_only_the_named_matching_fronts(store):
    spark = _FakeSpark("app-1")
    all_ = sc.front(spark, "d", "scd2", _FakeFrame, "all")
    upd = sc.front(spark, "d", "scd2", _FakeFrame, "updates")
    other = sc.front(spark, "d", "km_curve", _FakeFrame)
    assert sc.evict("scd2", "all") == 1
    assert all_.unpersisted and not upd.unpersisted
    assert {k[3:] for k in store} == {("scd2", "updates"), ("km_curve",)}
    assert sc.evict("scd2") == 1
    assert not other.unpersisted
    # unknown names are a no-op, not an error
    assert sc.evict("no_such_front") == 0


def test_staging_dir_shape():
    """Tests and the stream-state eviction derive staged paths, so the
    shape is pinned: <tmp>/pe_<kind>_<md5(sf_dir)[:10]>_<app>."""
    import hashlib
    import tempfile

    path = sc.staging_dir(_FakeSpark("local:1/x"), "/data/sf", "frag")
    h = hashlib.md5(b"/data/sf").hexdigest()[:10]
    assert path == os.path.join(tempfile.gettempdir(), f"pe_frag_{h}_local_1_x")


def test_no_module_level_cache_dicts():
    """Every memo goes through session_cache.front: no module under
    plans/ or streaming/ binds its own module-level ``*_CACHE``."""
    offenders = []
    for sub in ("plans", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            for node in ast.parse(path.read_text()).body:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target] if isinstance(node, ast.AnnAssign)
                    else []
                )
                offenders += [
                    f"{sub}/{path.name}:{t.id}"
                    for t in targets
                    if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
                ]
    assert not offenders, offenders


def test_staging_site_race_builds_once(spark, monkeypatch):
    """Two threads racing the first call of a staging site build its
    directory once (the site used to be an unlocked get-then-set)."""
    from pe_firm_investment_database_pipeline_spark.plans import io_ops

    sf = "/root/testdata/sf0.001"
    sc.evict("lineage")
    builds = []
    real_load = io_ops.load_table

    def counting_load(*args, **kwargs):
        builds.append(args[2])
        return real_load(*args, **kwargs)

    monkeypatch.setattr(io_ops, "load_table", counting_load)
    paths = []
    _race(2, lambda: paths.append(io_ops._lineage_dir(spark, sf)), 300)
    assert builds == ["events"]
    assert len(paths) == 2 and paths[0] == paths[1]
    assert os.path.isdir(os.path.join(paths[0], "batch_a"))
