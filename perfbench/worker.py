"""One benchmark process: set up Spark, serve one workload's requests
in order, then check every result. Started by ``run.py``, never by
hand.

    worker.py --spec SPEC.json --out OUT.json --spawned-at T

Sets up (interpreter, JVM, ``get_spark``, registry import), serves the
requests as one closed-loop client and writes per-request timings, row
counts and result digests. With ``trace`` in the spec it also records
spans and Spark's status counters (see telemetry.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU time of the host in clock ticks since boot,
    from /proc/stat. Stolen time is time a runnable virtual CPU was
    given to another guest by the hypervisor."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the host's runnable CPU time between two cpu_ticks()
    readings that the hypervisor gave to other guests. A virtual CPU
    that gets a share f of real time while runnable does CPU-bound work
    1/f times slower, so wall time x (1 - stolen share) is the time on
    an uncontended host. The share is a ratio of the host's own
    counters: work the program adds raises busy and stolen time alike
    and leaves the share, and so the corrected time's rise, in place."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def _module(spec) -> str:
    # "pe_firm_..._spark.plans.relational" -> "relational";
    # "pe_firm_..._spark.streaming.windows" -> "streaming.windows"
    parts = spec.fn.__module__.split(".")
    return ".".join(parts[1:]) if parts[1] == "streaming" else parts[-1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    # wall-clock time at which run.py started this process
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    ticks0 = cpu_ticks()
    with open(args.spec) as f:
        spec = json.load(f)

    # set-up: everything a fresh process pays before its first request
    from pe_firm_investment_database_pipeline_spark.session import get_spark

    g0 = time.perf_counter()
    spark = get_spark(f"perfbench-{spec['workload']}", driver_memory=spec["driver_memory"])
    get_spark_s = time.perf_counter() - g0
    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    registry = all_queries()

    tracer = reader = listener = None
    if spec["trace"]:
        import telemetry

        tracer = telemetry.Tracer()
        reader = telemetry.StoreReader(spark)
        listener = telemetry.StreamListener()
        spark.streams.addListener(listener)

    data_dir = spec["data_dir"]
    requests, results, cache_peak = [], {}, (0, 0.0)
    w_ticks = cpu_ticks()
    w_wall = time.time()
    w0 = time.perf_counter()
    out = {
        "get_spark_s": get_spark_s,
        "setup_s": w_wall - args.spawned_at,
        "setup_stolen_share": stolen_share(ticks0, w_ticks),
    }
    root = tracer.add("workload", w0, w0, None) if tracer else None
    for op in spec["order"]:
        qs = registry[op]
        rec = {"op": op, "module": _module(qs)}
        r0 = time.perf_counter()
        r1 = None
        try:
            df = qs.fn(spark, data_dir)
            r1 = time.perf_counter()
            results[op] = df.toPandas()
        except Exception as exc:  # a failed request is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc(file=sys.stderr)
        end = time.perf_counter()
        rec.update(
            call_s=(r1 or end) - r0,
            action_s=(end - r1) if r1 else 0.0,
            latency_s=end - r0,
        )
        if tracer:
            req = tracer.add("request", r0, end, root, op=op)
            tracer.add("call", r0, r1 or end, req)
            if r1:
                tracer.add("action", r1, end, req)
            t0 = time.perf_counter()
            rec["counters"] = reader.read()
            n, mb = reader.cache_state()
            cache_peak = (max(cache_peak[0], n), max(cache_peak[1], mb))
            tracer.add("read_stores", t0, time.perf_counter(), root)
        requests.append(rec)
    w1 = time.perf_counter()
    out.update(
        window_wall=[w_wall, w_wall + (w1 - w0)],
        makespan_s=w1 - w0,
        window_stolen_share=stolen_share(w_ticks, cpu_ticks()),
    )
    if tracer:
        tracer.spans[root]["end"] = w1
        # micro-batch progress and job-end events arrive asynchronously
        time.sleep(0.5)
        out["late_counters"] = reader.read()
        out.update(
            spans=tracer.spans,
            streaming=listener.counters(),
            session_cache={"rdds_persisted": cache_peak[0], "storage_mb": cache_peak[1]},
        )

    # outside the timed window: digest every result for the check
    from inputs import canonical

    for rec in requests:
        if rec["op"] in results:
            rec["result"] = canonical(results.pop(rec["op"]))
    out["requests"] = requests

    # entries kept out of the timed workload because they cannot run
    # on every host; attempted and timed here so their state and their
    # module's time stay on record
    known = []
    for op in spec.get("known_failing", ()):
        rec = {"op": op, "module": _module(registry[op])}
        r0 = time.perf_counter()
        r1 = None
        try:
            df = registry[op].fn(spark, data_dir)
            r1 = time.perf_counter()
            rec["rows"] = len(df.toPandas())
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        end = time.perf_counter()
        rec.update(call_s=(r1 or end) - r0, action_s=(end - r1) if r1 else 0.0)
        known.append(rec)
    out["known_failing"] = known
    spark.stop()
    _write(args.out, out)


def _write(path: str, doc: dict) -> None:
    with open(path, "w") as f:
        json.dump(doc, f)


if __name__ == "__main__":
    main()
