"""Repository benchmark: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (set-up time,
makespan, peak RSS); with ``--trace 1`` they are the per-layer
counters of a traced run. Every run also writes a full record under
``perfbench/runs/`` and never overwrites an earlier one. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import inputs
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pe_firm_investment_database_pipeline_spark"
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, "runs")
DEADLINE_S = 170.0  # a run ends within 180 s, inputs built
TRACE_RETENTION = "100000"  # status-store caps for traced runs only


def host_settings() -> dict:
    """Size the Spark process to this host: every CPU this process may
    use, and a driver heap of a sixteenth of RAM (1-8 GiB). Both
    workloads run in a 1 GiB heap; a larger one leaves the JVM's
    resident set to G1's run-to-run heap sizing."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gib = max(1, min(8, round(kib / 2**20 / 16)))
    return {"cpus": cpus, "driver_memory": f"{mem_gib}g", "host_mem_gib": round(kib / 2**20, 1)}


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (parent pid, command name, start time in ticks, resident
    KiB) of every process this host shows."""
    page_kib = os.sysconf("SC_PAGE_SIZE") // 1024
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            with open(f"/proc/{pid}/statm") as f:
                kib = int(f.read().split()[1]) * page_kib
        except (OSError, IndexError, ValueError):
            continue  # exited while being read
        fields = tail.split()
        table[int(pid)] = (int(fields[1]), head.split("(", 1)[1], int(fields[19]), kib)
    return table


def descendants(root: int, parents: dict[int, int]) -> set[int]:
    """``root`` and every process below it in the parent map. The
    walk follows parent links, not process groups: PySpark's worker
    daemon moves itself and its UDF workers into a group of their own."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Samples the resident memory of a worker and all its descendants
    (the Python driver, its JVM, the JVM's Python worker daemon and UDF
    workers), summed by command name, and remembers every descendant it
    saw so that none outlives the run.

    Only ``java`` and ``python*`` processes are summed: a child the JVM
    is spawning (chmod, the Python daemon) carries the name of the JVM
    thread that forked it and, until it execs, reports the JVM's whole
    resident set."""

    def __init__(self, root: int, every_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root, self.every_s = root, every_s
        self.samples: list[tuple[float, dict[str, int]]] = []
        self.seen: dict[int, int] = {}  # pid -> start time
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            self.sample()
            self.stop.wait(self.every_s)

    def sample(self) -> None:
        table = _proc_table()
        by_comm: dict[str, int] = {}
        for pid in descendants(self.root, {p: t[0] for p, t in table.items()}):
            if pid not in table:
                continue
            _, comm, start, kib = table[pid]
            self.seen.setdefault(pid, start)
            if comm == "java" or comm.startswith("python"):
                by_comm[comm] = by_comm.get(comm, 0) + kib
        self.samples.append((time.time(), by_comm))

    def peak_mb(self, until: float) -> float:
        kept = [s for t, s in self.samples if t <= until]
        return max((sum(s.values()) for s in kept), default=0) / 1024

    def peak_by_command_mb(self, until: float) -> dict[str, float]:
        out: dict[str, float] = {}
        for t, s in self.samples:
            if t <= until:
                for comm, kib in s.items():
                    out[comm] = max(out.get(comm, 0), kib / 1024)
        return out

    def stop_seen(self, timeout_s: float = 10.0) -> None:
        """Wait for every descendant seen to end; kill what is left
        after ``timeout_s``. A pid is matched with its start time, so a
        reused pid is never touched."""
        deadline = time.monotonic() + timeout_s
        while True:
            table = _proc_table()
            alive = [p for p, st in self.seen.items() if p in table and table[p][2] == st]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.05)


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _wait_group_gone(pgid: int, timeout_s: float = 10.0) -> None:
    """Wait until no process of the group is left (the JVM outlives
    the worker by a moment)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def run_worker(spec_path: str, run_dir: str, env: dict, deadline: float) -> dict:
    """Start the worker in a fresh process and wait for it and every
    process below it to end. Returns its output plus the RSS peak of
    the worker and its descendants."""
    with open(os.path.join(run_dir, "worker.log"), "w") as logs:
        out = os.path.join(run_dir, "out.json")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--spec", spec_path,
             "--out", out, "--spawned-at", repr(time.time())],
            cwd=ROOT, env=env, start_new_session=True,
            stdin=subprocess.DEVNULL, stdout=logs, stderr=logs,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            _wait_group_gone(proc.pid)
        finally:
            if proc.poll() is None:
                _kill_group(proc)
            sampler.stop.set()
            sampler.join()
            sampler.stop_seen()
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited {proc.returncode} (see worker.log)")
    with open(out) as f:
        result = json.load(f)
    result["peak_rss_mb"] = sampler.peak_mb(until=result["window_wall"][1])
    result["peak_rss_by_command_mb"] = sampler.peak_by_command_mb(result["window_wall"][1])
    return result


def check(requests: list[dict], refs: dict) -> list[dict]:
    """Failed requests: raised, or whose result differs from the
    DuckDB twin in columns, row count or any value."""
    failures = []
    for r in requests:
        if "error" in r:
            failures.append({"op": r["op"], "why": r["error"]})
            continue
        want, got = refs[r["op"]], r["result"]
        if got["rows"] != want["rows"]:
            why = f"rows {got['rows']} != twin {want['rows']}"
        elif got["columns"] != want["columns"]:
            why = f"columns {got['columns']} != twin {want['columns']}"
        elif got["sha256"] != want["sha256"]:
            why = "values differ from twin"
        else:
            continue
        failures.append({"op": r["op"], "why": why})
    return failures


def end_to_end(result: dict, correct_steal: bool = True) -> dict:
    """End-to-end metrics. Times are wall-clock seconds times the share
    of the host's CPU time the hypervisor did not steal during that
    phase (see worker.cpu_ticks); ``correct_steal=False`` gives the raw
    wall-clock values."""

    def kept(share: float) -> float:
        return 1.0 - share if correct_steal else 1.0

    return {
        "setup_s": (result["setup_s"] * kept(result["setup_stolen_share"]), "s"),
        "makespan_s": (result["makespan_s"] * kept(result["window_stolen_share"]), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }


def per_layer(result: dict, cpus: int) -> dict:
    counters: dict[str, float] = {}
    for r in result["requests"]:
        for k, v in r.get("counters", {}).items():
            counters[k] = counters.get(k, 0) + v
    for k, v in result.get("late_counters", {}).items():
        counters[k] = counters.get(k, 0) + v
    counters.update(result["streaming"])
    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (result["get_spark_s"], "s")}
    # known-failing entries are timed after the window and counted in
    # their module's layer (time until they fail on hosts without the
    # capture logs)
    timed = result["requests"] + result.get("known_failing", [])
    for mod in workloads.PLAN_MODULES:
        rs = [r for r in timed if r["module"] == mod]
        m[f"plans.{mod}.call_s"] = (sum(r["call_s"] for r in rs), "s")
        m[f"plans.{mod}.action_s"] = (sum(r["action_s"] for r in rs), "s")
    m["session_cache.rdds_persisted"] = (result["session_cache"]["rdds_persisted"], "count")
    m["session_cache.storage_mb"] = (result["session_cache"]["storage_mb"], "MB")
    for name, key, unit, factor in workloads.COUNTERS:
        m[name] = (counters.get(key, 0) * factor, unit)
    run_s = counters.get("spark.executor_run_s", 0)
    m["spark.core_busy_share"] = (run_s / (result["makespan_s"] * cpus), "ratio")
    return m


def previous_makespans(workload: str, entries: list[str], driver_memory: str) -> list[float]:
    """Makespans of earlier correct untraced records of this
    workload with the same request set and driver heap in this
    checkout, for the tracing-overhead estimate."""
    out = []
    if not os.path.isdir(RUNS):
        return out
    for name in sorted(os.listdir(RUNS)):
        try:
            with open(os.path.join(RUNS, name)) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if (
            rec.get("workload") == workload
            and rec.get("trace") == 0
            and rec.get("correct")
            and sorted(rec.get("order", ())) == sorted(entries)
            and rec["settings"]["driver_memory"] == driver_memory
        ):
            out.append(rec["end_to_end"]["makespan_s"])
    return out


def write_record(rec: dict) -> str:
    """Write a run record under perfbench/runs/; an existing file is
    never replaced."""
    os.makedirs(RUNS, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    base = f"{stamp}-{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}"
    for n in range(1000):
        path = os.path.join(RUNS, f"{base}-{n}.json" if n else f"{base}.json")
        try:
            with open(path, "x") as f:
                json.dump(rec, f, indent=1, sort_keys=True)
            return path
        except FileExistsError:
            continue
    raise RuntimeError("no free record name")


def prepare(workload: str) -> tuple[str, dict]:
    """Build (once per checkout) this workload's inputs and twin
    references; return its data directory and references."""
    src = inputs.source_dir()
    inputs.check_source(src)
    fp = inputs.fingerprint(src)
    wl = workloads.WORKLOADS[workload]
    os.makedirs(CACHE, exist_ok=True)
    data_dir = src
    if wl.scale == "sf1.0":
        data_dir = inputs.build_replica(src, os.path.join(CACHE, f"sf1.0-{fp}"))
    refs = inputs.build_references(
        wl.entries(), data_dir, os.path.join(CACHE, f"twins-{fp}-{workload}.json")
    )
    return data_dir, refs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    # the first run in a checkout builds inputs; the run proper starts after
    data_dir, refs = prepare(args.workload)
    deadline = time.monotonic() + DEADLINE_S
    order = wl.order(args.seed)
    host = host_settings()

    os.makedirs(CACHE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    try:
        tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(host["cpus"]),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p
            ),
            PYSPARK_PYTHON=sys.executable,
            # JVM temp files into the run's TMPDIR, and no hsperfdata
            # file, which the JVM always writes under /tmp
            JAVA_TOOL_OPTIONS=" ".join(
                p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                            "-XX:-UsePerfData") if p
            ),
        )
        env.pop("SPARK_GRAFT_DRIVER_MEM", None)
        if args.trace:
            for k in ("EXECUTIONS", "JOBS", "STAGES"):
                env[f"SPARK_GRAFT_RETAINED_{k}"] = TRACE_RETENTION
        settings = {
            **host,
            "data_dir": data_dir,
            # the run dir is removed when the run ends
            **{k: os.path.relpath(env[k], ROOT) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")},
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "PYTHONPATH", "JAVA_TOOL_OPTIONS")},
            **{k: env.get(k, "package default") for k in (
                "SPARK_GRAFT_RETAINED_EXECUTIONS", "SPARK_GRAFT_RETAINED_JOBS",
                "SPARK_GRAFT_RETAINED_STAGES")},
        }
        spec = {
            "workload": args.workload,
            "trace": args.trace,
            "data_dir": data_dir,
            "order": order,
            "driver_memory": host["driver_memory"],
            "known_failing": list(wl.known_failing),
        }
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        try:
            result = run_worker(spec_path, run_dir, env, deadline)
        except (RuntimeError, subprocess.TimeoutExpired) as exc:
            log = os.path.join(run_dir, "worker.log")
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: {exc}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = check(result["requests"], refs)
    attempted = len(result["requests"])
    lat = [r["latency_s"] for r in result["requests"]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds_requested": args.seconds,
        "settings": settings,
        "order": order,
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "failed_ratio": len(failures) / attempted,
        "failures": failures,
        "known_failing": result["known_failing"],
        "setup_stolen_share": result["setup_stolen_share"],
        "window_stolen_share": result["window_stolen_share"],
        "peak_rss_by_command_mb": result["peak_rss_by_command_mb"],
        "latency_samples": len(lat),
        "latency_p50_s": statistics.median(lat),
        # p90 is an end-to-end metric only where at least ten samples
        # lie beyond it; below that it is kept here for reference
        "latency_p90_s": stats.percentile(lat, 0.9),
        "latency_p90_samples_beyond": stats.samples_beyond(len(lat), 0.9),
        "latency_p90_reportable": stats.reportable(len(lat), 0.9),
        "requests": [{k: v for k, v in r.items() if k != "counters"} for r in result["requests"]],
        "wall_s": time.monotonic() - started,
    }
    e2e = end_to_end(result)
    record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    record["end_to_end_raw"] = {k: v for k, (v, _) in end_to_end(result, False).items()}
    if args.trace:
        metrics = per_layer(result, host["cpus"])
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        record["reconcile"] = stats.reconcile(result["spans"], result["makespan_s"])
        prev = previous_makespans(args.workload, order, host["driver_memory"])
        record["tracing_overhead_s"] = (
            e2e["makespan_s"][0] - statistics.median(prev) if prev else None
        )
        record["untraced_runs_compared"] = len(prev)
        record["spans"] = result["spans"]
    else:
        metrics = e2e
    path = write_record(record)

    print(f"record: {os.path.relpath(path, ROOT)}")
    print(f"settings: {json.dumps(settings)}")
    print(f"failed: {failures}")
    print(f"known failing (not counted): {result['known_failing']}")
    print(f"end to end: {json.dumps(record['end_to_end'])}")
    print(f"raw: {json.dumps(record['end_to_end_raw'])} "
          f"stolen share: {record['window_stolen_share']:.3f}")
    if args.trace:
        print(f"reconcile: {json.dumps({k: v for k, v in record['reconcile'].items() if k != 'self_s'})}")
        print(f"tracing overhead s: {record['tracing_overhead_s']}")
    print(
        json.dumps(
            {
                "correct": record["correct"],
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
