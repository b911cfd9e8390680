"""Percentile reporting and the parent-versus-change pair rule."""
import math
import statistics


def percentile(sorted_xs, q):
    """The q-quantile (0..1) of an ascending list, by the nearest-rank rule."""
    if not sorted_xs:
        raise ValueError("no samples")
    rank = math.ceil(round(q * len(sorted_xs), 9))
    return sorted_xs[min(len(sorted_xs), max(rank, 1)) - 1]


def tail_level(n, beyond=10):
    """The highest whole percentile with at least `beyond` of `n` samples above
    it, or None when there are too few samples for any percentile above 50."""
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def summary(xs):
    """Median, the highest percentile with >= 10 samples beyond it, and the
    sample count of one timing."""
    s = sorted(xs)
    out = {"n": len(s), "p50": statistics.median(s) if s else None,
           "tail_pct": tail_level(len(s)), "tail": None}
    if out["tail_pct"] is not None:
        out["tail"] = percentile(s, out["tail_pct"] / 100)
    return out


def pair_gain(parent, change, lower_is_better=True):
    """The gain rule for paired runs: the change must win at least 9 of every
    10 pairs (ties count for neither side), and the medians must differ by
    more than the parent's own interquartile distance. Returns (claimed,
    wins, pairs)."""
    if len(parent) != len(change) or len(parent) < 4:
        raise ValueError("need equal, paired samples (at least 4 pairs)")
    sign = 1 if lower_is_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    gap = sign * (statistics.median(parent) - statistics.median(change))
    return wins * 10 >= 9 * len(parent) and gap > q3 - q1, wins, len(parent)


def by_op(ops):
    """Operation name -> its wall times."""
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["s"])
    return out


def op_geomean(ops):
    """Geometric mean over the workload's operations (a catalog query, an
    ingest micro-batch) of each one's best wall time in the run, so every
    operation weighs the same however long it runs. Host load only ever adds
    time, so the best of a run's repetitions is the figure it disturbs least."""
    return statistics.geometric_mean(min(v) for v in by_op(ops).values())


def pass_best(ops):
    """A pass's time with every operation at its best in the run, an ingest
    micro-batch together with its Gold read: unlike `op_geomean`, weighted by
    how long each operation runs. A burst of host load slows some operations
    of a pass, not all of them, so the best pass still holds slowed ones."""
    best = {}
    for o in ops:
        t = o["s"] + o.get("gold_s", 0.0)
        best[o["name"]] = min(t, best.get(o["name"], t))
    return sum(best.values())
