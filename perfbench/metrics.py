"""Arithmetic of the benchmark (metrics, self time, seeded orders), free of I/O."""
import math
import random
import statistics


def geomean(values):
    """Geometric mean of positive numbers."""
    values = list(values)
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def query_geomean(times):
    """Geometric mean, over queries, of each query's median time.

    `times` maps a query name to its times across timed passes."""
    return geomean(statistics.median(ts) for ts in times.values())


def core_util(run_s, wall_s, cores):
    """Executor run time as a share of the cores available over `wall_s`."""
    return run_s / (wall_s * cores)


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part its children cover.

    `spans` is a list of dicts with id, parent, start_s and end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    return {s["id"]: (s["end_s"] - s["start_s"]) - _covered(children.get(s["id"], []))
            for s in spans}


def self_time_by_name(spans):
    """Self time summed per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def seeded_orders(queries, seed, passes):
    """Query order of the priming pass and of each timed pass for `seed`."""
    rng = random.Random(seed)
    return [rng.sample(list(queries), len(queries)) for _ in range(passes + 1)]
