"""Python-stage guard: no registry entry may run two Python evaluation
nodes in one task.

Every Python evaluation node (mapInPandas, mapInArrow, pandas_udf,
applyInPandas, a Python UDTF, ...) starts its own Python worker per
task. Two of them between the same pair of exchanges are pipelined into
one task, so that task holds two workers at once and every row crosses
the Arrow boundary twice. Such a pair should be one Python function
(plans/multimodal.py ``_codec_roundtrip`` is the pattern). Branches of
a union are the exception: a union task runs one branch's partition.

The guard walks every registry entry's executed plan at sf0.001 with
adaptive execution off, so the exchanges sit in the plan tree itself
rather than behind an AdaptiveSparkPlan node.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from pe_firm_investment_database_pipeline_spark.plans import all_queries
from pe_firm_investment_database_pipeline_spark.plans.seed_pipeline import (
    LOGS_GLOB,
)

SF = "/root/testdata/sf0.001"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# physical nodes that evaluate Python code in the task
PYTHON_NODES = frozenset(
    {
        "ArrowAggregatePythonExec",
        "ArrowEvalPythonExec",
        "ArrowEvalPythonUDTFExec",
        "ArrowWindowPythonExec",
        "BatchEvalPythonExec",
        "BatchEvalPythonUDTFExec",
        "FlatMapCoGroupsInArrowExec",
        "FlatMapCoGroupsInPandasExec",
        "FlatMapGroupsInArrowExec",
        "FlatMapGroupsInPandasExec",
        "FlatMapGroupsInPandasWithStateExec",
        "MapInArrowExec",
        "MapInPandasExec",
        "TransformWithStateInPySparkExec",
    }
)


def _in_task(node, stages: list) -> int:
    """Python nodes one task of ``node``'s stage runs at once; the
    roots of the stages ``node`` reads are appended to ``stages``."""
    name = node.getClass().getSimpleName()
    children = node.children()
    kids = [children.apply(i) for i in range(children.size())]
    subqueries = node.subqueries()
    stages.extend(subqueries.apply(i) for i in range(subqueries.size()))
    if name == "InMemoryTableScanExec":
        stages.append(node.relation().cachedPlan())
    if name.endswith("ExchangeExec"):
        stages.extend(kids)
        return 0
    counts = [_in_task(k, stages) for k in kids]
    # a union task runs one child's partition, never two at once
    inner = max(counts, default=0) if name == "UnionExec" else sum(counts)
    return (name in PYTHON_NODES) + inner


def python_nodes_per_task(plan) -> int:
    """The most Python evaluation nodes any one task of a physical plan
    (py4j SparkPlan) pipelines. The plan is cut into stages at every
    exchange; subquery plans and cached relations' plans are stages of
    their own."""
    stages, most = [plan], 0
    while stages:
        most = max(most, _in_task(stages.pop(), stages))
    return most


def _executed(df):
    return df._jdf.queryExecution().executedPlan()


def test_walk_counts_pipelined_python_nodes(spark):
    """Two chained mapInPandas run in one task; an exchange between
    them, or a union of them, leaves one per task."""

    def ident(batches):
        yield from batches

    one = spark.range(8).mapInPandas(ident, "id long")
    plans = (
        one.mapInPandas(ident, "id long"),
        one.repartition(2).mapInPandas(ident, "id long"),
        one.unionByName(spark.range(8).mapInPandas(ident, "id long")),
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        counts = [python_nodes_per_task(_executed(df)) for df in plans]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert counts == [2, 1, 1]


def _walk_registry(spark) -> dict[str, int]:
    """Each entry's python_nodes_per_task."""
    have_logs = bool(glob.glob(LOGS_GLOB))
    out = {}
    for name, spec in all_queries().items():
        # the seed entries read reference logs, not the dataset
        if spec.fn.__module__.endswith(".seed_pipeline") and not have_logs:
            continue
        out[name] = python_nodes_per_task(_executed(spec.fn(spark, SF)))
    return out


def test_no_entry_pipelines_two_python_nodes_in_one_task(tmp_path):
    """The walk runs in a Spark application of its own, with its temp
    root under tmp_path: building every entry stages fronts, temp dirs
    and catalog tables that would otherwise land in the shared test
    session (tests count this application's staging trees)."""
    out = tmp_path / "per_entry.json"
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(
            p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
        ),
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(out)],
        env=env,
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    per_entry = json.loads(out.read_text())
    pipelined = {n: c for n, c in per_entry.items() if c > 1}
    assert not pipelined, f"Python nodes pipelined in one task: {pipelined}"


if __name__ == "__main__":
    from pe_firm_investment_database_pipeline_spark.session import get_spark

    session = get_spark("pe-plan-python-stages", driver_memory="2g")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with open(sys.argv[1], "w") as f:
            json.dump(_walk_registry(session), f)
    finally:
        session.stop()
