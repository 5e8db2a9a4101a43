"""Pure helpers: percentiles, run-to-run spread and span self times."""

from __future__ import annotations

import math
import statistics

# Share of makespan that may stay unattributed to call/action spans
# (harness bookkeeping between requests) before a traced run is
# reported as not reconciling.
RECONCILE_TOLERANCE = 0.02


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile, ``0 < q <= 1``."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    return s[max(1, math.ceil(q * len(s))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n))


def reportable(n: int, q: float, min_beyond: int = 10) -> bool:
    """A tail percentile is reportable when at least ``min_beyond``
    samples lie beyond it."""
    return samples_beyond(n, q) >= min_beyond


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. Spans are dicts with ``id``,
    ``parent`` (id or None), ``start`` and ``end``."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def reconcile(spans: list[dict], window: float) -> dict:
    """Sum self times by span name and compare with the timed ``window``.

    ``attributed`` is the share of the window inside ``call``/``action``
    spans and ``tracing`` the share spent reading Spark's status stores;
    what remains is harness bookkeeping, which must stay within
    RECONCILE_TOLERANCE."""
    st = self_times(spans)
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["id"]]
    total = sum(by_name.values())
    work = by_name.get("call", 0.0) + by_name.get("action", 0.0)
    tracing = by_name.get("read_stores", 0.0)
    other = window - work - tracing
    return {
        "self_s": {k: round(v, 6) for k, v in sorted(by_name.items())},
        "self_sum_s": round(total, 6),
        "window_s": round(window, 6),
        "attributed_share": work / window if window else 0.0,
        "tracing_share": tracing / window if window else 0.0,
        "unattributed_share": other / window if window else 0.0,
        "tolerance": RECONCILE_TOLERANCE,
        "ok": abs(total - window) <= 1e-6 * max(1.0, window)
        and other <= RECONCILE_TOLERANCE * window,
    }
