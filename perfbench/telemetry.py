"""Traced-run instrumentation, all of it outside the program under test.

- ``Tracer`` records spans (name, start, end, parent) from the
  benchmark's own calls into the registry: workload -> request ->
  call / action, plus a ``read_stores`` span per request for the cost
  of tracing itself.
- ``StoreReader`` reads Spark's status stores after every request:
  the application status store (jobs, stages, task metrics, persisted
  RDDs) and the SQL status store (per-node SQL metrics). New jobs and
  SQL executions are found by id delta, so micro-batch jobs started
  on stream threads are counted with the request that ran the stream.
- ``StreamListener`` is a StreamingQueryListener that sums
  micro-batch progress.

Only the driver's public Python API and the JVM status-store objects
are used; nothing in the package is patched.
"""

from __future__ import annotations

import re
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return sid


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric total of a rendered SQL metric: sizes in bytes, times in
    seconds, plain sums as counts. Task-level metrics render as
    ``total (min, med, max ...)\\n<total> (...)``; driver-level ones as
    the bare value."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


# SQL metric name -> layer counter (bytes and seconds; converted when
# the metrics are reported)
SQL_METRICS = {
    "scan time": "sources.scan_s",
    "number of files read": "sources.files_read",
    "size of files read": "sources.read_bytes",
    "number of written files": "sinks.files_written",
    "written output": "sinks.written_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.io_bytes",
    "data returned from Python workers": "python.io_bytes",
}

STAGE_COUNTERS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "exchange.shuffle_write_bytes",
    "exchange.shuffle_read_bytes",
    "exchange.fetch_wait_s",
    "exchange.spill_bytes",
)


class StoreReader:
    """Counters from Spark's status stores, attributed to requests by
    job-id and execution-id deltas."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = self._max_job_id()
        self.seen_exec = self.sql.executionsCount()
        self.seen_stages: set[int] = set()
        self.pending_jobs: list[int] = []
        self.pending_execs: list[int] = []

    def _max_job_id(self) -> int:
        jobs = self.app.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _new_job_ids(self) -> list[int]:
        jobs = self.app.jobsList(None)  # newest first
        ids = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            ids.append(jid)
        if ids:
            self.last_job = max(ids)
        return ids

    def read(self, settle_s: float = 2.0) -> dict:
        """Counters for everything that finished since the last read.
        Jobs and executions still running (the listener bus delivers
        their end events asynchronously) are re-read on a later call,
        waiting up to ``settle_s``."""
        out: dict[str, float] = {}
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self.pending_jobs + self._new_job_ids()
            n = self.sql.executionsCount()
            execs = self.pending_execs + list(range(self.seen_exec, n))
            self.seen_exec = n
            self.pending_jobs = [j for j in jobs if not self._job_done(j)]
            self.pending_execs = [e for e in execs if not self._exec_done(e)]
            for j in jobs:
                if j not in self.pending_jobs:
                    self._add_job(j, out)
            for e in execs:
                if e not in self.pending_execs:
                    self._add_exec(e, out)
            if not (self.pending_jobs or self.pending_execs) or time.monotonic() > deadline:
                return out
            time.sleep(0.01)

    def _job_done(self, jid: int) -> bool:
        return self.app.job(jid).status().toString() != "RUNNING"

    def _exec_done(self, eid: int) -> bool:
        ex = self.sql.execution(eid)
        return ex.isEmpty() or ex.get().completionTime().isDefined()

    def _add_job(self, jid: int, out: dict) -> None:
        job = self.app.job(jid)
        out["spark.jobs"] = out.get("spark.jobs", 0) + 1
        out["spark.stages_skipped"] = out.get("spark.stages_skipped", 0) + job.numSkippedStages()
        out["spark.tasks_failed"] = out.get("spark.tasks_failed", 0) + job.numFailedTasks()
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self.seen_stages:
                continue
            try:
                st = self.app.lastStageAttempt(sid)
            except Exception:  # py4j: a skipped stage has no attempt
                continue
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            self.seen_stages.add(sid)
            vals = (
                st.executorRunTime() / 1e3,
                st.executorCpuTime() / 1e9,
                st.jvmGcTime() / 1e3,
                st.shuffleWriteBytes(),
                st.shuffleReadBytes(),
                st.shuffleFetchWaitTime() / 1e3,
                st.diskBytesSpilled(),
            )
            for k, v in zip(STAGE_COUNTERS, vals):
                out[k] = out.get(k, 0) + v
            out["spark.stages"] = out.get("spark.stages", 0) + 1
            out["spark.tasks"] = (
                out.get("spark.tasks", 0) + st.numCompleteTasks() + st.numFailedTasks()
            )

    def _add_exec(self, eid: int, out: dict) -> None:
        graph = self.sql.planGraph(eid)
        values = self.sql.executionMetrics(eid)
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] = out.get(key, 0) + parse_metric(v.get())

    def cache_state(self) -> tuple[int, float]:
        """Persisted RDDs and their block-manager storage in MB."""
        rdds = self.app.rddList(True)
        used = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            used += r.memoryUsed() + r.diskUsed()
        return rdds.size(), used / 2**20


class StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches = 0
        self.input_rows = 0
        self.add_batch_s = 0.0
        self.commit_s = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        self.batches += 1
        self.input_rows += p.numInputRows or 0
        self.add_batch_s += d.get("addBatch", 0) / 1e3
        self.commit_s += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def counters(self) -> dict:
        return {
            "streaming.batches": self.batches,
            "streaming.input_rows": self.input_rows,
            "streaming.add_batch_s": self.add_batch_s,
            "streaming.commit_s": self.commit_s,
        }
