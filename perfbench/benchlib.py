"""Arithmetic of the benchmark: percentiles, span self time, driver gaps,
spreads and the shape of the result line. Pure functions, unit-tested in
tests/test_benchlib.py."""
import math
import statistics

# a tail percentile is reported only as far out as this many samples
# lie beyond it
TAIL_SUPPORT = 10


def quantile(values, q):
    """Linear-interpolation quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, wanted=0.9, beyond=TAIL_SUPPORT):
    """The highest percentile, up to `wanted`, with at least `beyond` of
    the `n` samples beyond it; never below the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(0.5, min(wanted, 1.0 - beyond / n))


def tail(values, wanted=0.9):
    """(value, level) of the supported tail percentile of `values`."""
    level = tail_level(len(values), wanted)
    return quantile(values, level), level


def union(intervals):
    """Merged, sorted (start, end) intervals."""
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def covered(intervals, lo=None, hi=None):
    """Total length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0
    for s, e in union(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        total += max(0, e - s)
    return total


def self_times(spans):
    """Self time of each span: its length minus the union of its children's
    intervals. `spans` are dicts with id, parent, start_ns, end_ns; returns
    {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) - covered(
                children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def layer_self_seconds(spans):
    """Self time summed per layer, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1e9
    return out


def driver_share(job_intervals, window):
    """Share of the window [start, end] during which no job was running."""
    lo, hi = window
    if hi <= lo:
        return 0.0
    return 1.0 - covered(job_intervals, lo, hi) / (hi - lo)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last output line. `metrics` maps name -> (value,
    unit)."""
    if not isinstance(attempted, int) or not isinstance(failed, int):
        raise TypeError("attempted and failed are whole numbers")
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not isinstance(value, (int, float)) or isinstance(value, bool) \
                or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value}")
        out[name] = {"value": value, "unit": unit}
    return {"correct": bool(correct), "attempted": attempted,
            "failed": failed, "metrics": out}
