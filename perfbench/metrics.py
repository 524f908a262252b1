"""Pure helpers of the benchmark: percentiles, span self time, and the
offset -> record -> micro-batch latency mapping of the ingest workload.
"""
import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between order
    statistics, with the sample count: (value, n). (0.0, 0) when empty.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    pos = (n - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(n - 1, lo + 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def p(values, q):
    return percentile(values, q)[0]


def geomean(values):
    xs = [v for v in values if v > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Self time of every span: its duration minus the part of its own
    interval that its children cover (children may overlap each other and
    may run past their parent). Returns {span id: self ms}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(a, c["start_ms"]), min(b, c["end_ms"])) for c in children.get(s["id"], []))
        out[s["id"]] = (b - a) - covered
    return out


def batch_ranges(progress):
    """Micro-batches that read data, as (start offset, end offset, end ms,
    batch id) sorted by offset. A batch ends when its trigger ends:
    progress timestamp + durationMs.triggerExecution.
    """
    out = []
    for e in progress:
        end = e.get("end_offset")
        if end is None or e.get("rows", 0) == 0:
            continue
        start = e.get("start_offset") or 0
        if end <= start:
            continue
        out.append((start, end,
                    e["timestamp_ms"] + e["duration_ms"].get("triggerExecution", 0),
                    e["batch_id"]))
    return sorted(out)


def record_batches(ranges, n):
    """For offsets 0..n-1, the index into `ranges` of the batch that read
    each one (None for an offset no batch read).
    """
    out = [None] * n
    for i, (s, e, _, _) in enumerate(ranges):
        for o in range(max(0, s), min(n, e)):
            out[o] = i
    return out


def record_latencies(ranges, due_ms, offsets):
    """Due -> queryable latency (ms) of each listed offset. With one
    connection and no drops, offset order is send order, so offset k is
    the k-th record sent, due at due_ms[k]; it became queryable when the
    batch that read it ended. Offsets no batch read are skipped.
    """
    owner = record_batches(ranges, len(due_ms))
    return [ranges[owner[k]][2] - due_ms[k] for k in offsets if owner[k] is not None]
