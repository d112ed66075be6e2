"""Pure metric rules of the benchmark (unit-tested in tests/)."""
import bisect
import math

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def quantile(values, q):
    """Quantile ``q`` in [0, 1], interpolating between the closest ranks
    (so a median of a fixed query panel moves smoothly, not by a rank)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def geomean(values):
    """Geometric mean: each query of a fixed panel weighs the same, and a
    noisy one moves it by its own share only, not by a rank."""
    xs = [x for x in values if x > 0]
    if not xs:
        return float("nan")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n):
    """The highest of ``PERCENTILES`` with at least ten of ``n`` samples
    beyond it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            best = p
    return best


def summary(values):
    """Median, the highest well-supported tail percentile, and the count."""
    n = len(values)
    out = {"n": n, "p50": median(values) if values else float("nan")}
    p = tail_percentile(n)
    if p is not None and p != 50:
        out["tail_p"] = p
        out["tail"] = quantile(values, p / 100.0)
    return out


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Fields of the aggregate ``cpu`` line of /proc/stat, in jiffies.
CPU_BUSY = (0, 1, 2, 5, 6)   # user, nice, system, irq, softirq
CPU_STEAL = 7


def steal_share(ticks, start, end):
    """Share of the VM's runnable CPU time the hypervisor took away
    (steal ÷ (busy + steal)) between the last reading at or before
    ``start`` and the first at or after ``end``. ``ticks`` are
    (time_ms, cpu-line fields) in time order."""
    if len(ticks) < 2:
        return 0.0
    times = [t for t, _ in ticks]
    i = max(bisect.bisect_right(times, start) - 1, 0)
    j = min(max(bisect.bisect_left(times, end), i + 1), len(ticks) - 1)
    a, b = ticks[i][1], ticks[j][1]
    if len(a) <= CPU_STEAL or len(b) <= CPU_STEAL:
        return 0.0
    busy = sum(b[k] - a[k] for k in CPU_BUSY)
    steal = b[CPU_STEAL] - a[CPU_STEAL]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def steal_free(ms, ticks, start, end):
    """A wall time less the hypervisor's share of it: what the interval
    would have lasted had the VM's CPUs not been taken away."""
    return ms * (1 - steal_share(ticks, start, end))


def driver_gap(start, end, job_intervals):
    """Op wall time minus the union of its job intervals (clipped to it)."""
    clipped = [(max(s, start), min(e, end)) for s, e in job_intervals]
    return (end - start) - union_length(clipped)


def file_latencies(due_ms, batches):
    """Per generated file, latency from its *due* time to the end of the
    micro-batch whose offset range covers it.

    ``due_ms[i]`` is when file i was due; ``batches`` are (start_offset,
    end_offset, end_ms) with file indices in [start_offset, end_offset).
    Files no batch covers get None."""
    out = [None] * len(due_ms)
    for start, end, end_ms in sorted(batches, key=lambda b: b[2]):
        for i in range(max(start, 0), min(end, len(due_ms))):
            if out[i] is None:
                out[i] = end_ms - due_ms[i]
    return out


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        own = (s["end_ms"] - s["start_ms"]) - union_length(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
