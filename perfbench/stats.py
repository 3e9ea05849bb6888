"""Pure summary rules of the benchmark, kept apart so they can be tested."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples):
    """The highest whole percentile that still has at least TAIL_BEYOND
    samples strictly above its nearest-rank value.

    Returns (percentile, value, n) or None when fewer than TAIL_BEYOND + 1
    samples exist. Nearest rank: the p-th percentile is the
    ceil(p/100 * n)-th smallest sample.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p * n / 100))
        v = xs[rank - 1]
        if sum(1 for x in xs if x > v) >= TAIL_BEYOND:
            return p, v, n
    return None


def failed_ops(ops, bad_names=(), bad_passes=()):
    """Ops that fail: an op fails if it threw, if its fingerprint differs
    from the first successful run of the same name in this run, if its
    name's output check failed (``bad_names``), or if its (name, pass)
    output check failed (``bad_passes``). Returns the failing ops."""
    first = {}
    failed = []
    bad_names, bad_passes = set(bad_names), set(bad_passes)
    for op in ops:
        name = op["name"]
        if not op["ok"]:
            failed.append(op)
            continue
        fp = op["fingerprint"]
        ref = first.setdefault(name, fp)
        if fp != ref or name in bad_names or (name, op["pass"]) in bad_passes:
            failed.append(op)
    return failed


def failed_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def trace_overhead(passes, key):
    """Tracing overhead in ``key`` ("wall_s" or "cpu_s"): the median over
    a traced run's consecutive pairs of warm passes (1-2, 3-4, ...) of the
    traced pass minus the untraced one. Each pair holds one of each; the
    run alternates which comes first."""
    warm = sorted((p for p in passes if p["kind"] == "warm"), key=lambda p: p["pass"])
    pairs = [(a, b) if a["traced"] else (b, a) for a, b in zip(warm[0::2], warm[1::2])]
    return median([t[key] - u[key] for t, u in pairs])


def spread(values):
    """Inter-quartile distance as a share of the median, the steadiness
    rule applied to ten runs of a metric."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
