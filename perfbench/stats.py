"""Statistics the benchmark reports, kept apart from run.py so that
test_perfbench.py can check them without a JVM."""
import math


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def percentile(values, q, min_tail=10):
    """Nearest-rank q-th percentile, or None when fewer than `min_tail`
    samples lie beyond it: a tail figure needs samples in the tail."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_tail:
        return None
    return v[rank - 1]


def geomean(values):
    if not values or any(x <= 0 for x in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in values) / len(values))


def exclusive_times(spans):
    """Split wall time between layers: at each instant the deepest open
    span owns it. `spans` holds (start, end, depth, layer); the result
    maps layer -> seconds and sums to the union of all spans, so self
    times are additive even where sibling spans overlap."""
    points = sorted({t for s, e, _, _ in spans for t in (s, e)})
    out = {}
    for a, b in zip(points, points[1:]):
        open_ = [(d, layer) for s, e, d, layer in spans if s <= a and e >= b]
        if open_:
            layer = max(open_)[1]
            out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def fail_count(execs, expected):
    """Failed key executions and their causes. An execution fails when
    it threw, or when its row count differs from `expected[key]`."""
    causes = []
    for x in execs:
        if x["error"]:
            causes.append((x["key"], "threw: " + x["error"]))
        elif x["key"] in expected and x["rows"] != expected[x["key"]]:
            causes.append((x["key"], "rows %d, expected %d"
                           % (x["rows"], expected[x["key"]])))
    return len(causes), causes
