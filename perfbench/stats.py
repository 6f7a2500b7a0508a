"""Pure helpers shared by run.py and steady.py: percentiles, span self
times, time-window attribution and the output record. No I/O here, so
test_stats.py can pin every rule."""
import json
import math
import statistics

# Percentiles a timing may be reported at, highest first.
PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, p):
    """The p-th percentile by linear interpolation between order
    statistics (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile as
    `percentile` places it (at order-statistic position (n-1)p/100)."""
    return n - 1 - (n - 1) * p // 100 if n else 0


def tail_percentile(n):
    """The highest reportable percentile for n samples: the highest one
    with at least ten samples beyond it, or None when even the median
    has fewer than ten beyond it."""
    for p in PERCENTILES:
        if beyond(n, p) >= 10:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
            for c in kids.get(s["id"], []) if c["end_us"] > s["start_us"] and c["start_us"] < s["end_us"])
        out[s["id"]] = (s["end_us"] - s["start_us"]) - covered
    return out


def attribute(times_us, spans):
    """For each time, the id of the innermost span whose window holds it
    (the latest-starting one among nested candidates), or None."""
    ordered = sorted(spans, key=lambda s: s["start_us"])
    out = []
    for t in times_us:
        best = None
        for s in ordered:
            if s["start_us"] > t:
                break
            if t <= s["end_us"] and (best is None or s["start_us"] >= best["start_us"]):
                best = s
        out.append(None if best is None else best["id"])
    return out


def ancestors(span_id, by_id):
    """The span and every span above it, innermost first."""
    chain = []
    while span_id is not None and span_id >= 0:
        chain.append(span_id)
        span_id = by_id[span_id]["parent"]
    return chain


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def record(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps name ->
    (value, unit); every metric must carry both."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not name or not unit:
            raise ValueError(f"metric {name!r} needs a name and a unit")
        if isinstance(value, bool) or not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} has no finite numeric value: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


def parse_record(line):
    """Inverse of `record`, validating the shape of the record."""
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"record keys {sorted(r)}")
    if not isinstance(r["attempted"], int) or r["attempted"] < 1 or not isinstance(r["failed"], int):
        raise ValueError("attempted/failed must be whole numbers, attempted >= 1")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not m["unit"]:
            raise ValueError(f"metric {name} must have exactly a value and a unit")
    return r
