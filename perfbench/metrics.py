"""The benchmark's metric arithmetic, kept free of I/O so it can be tested
on synthetic spans (see test_metrics.py).

Times are integers in epoch nanoseconds, as the JVM side records them.
"""
import math

MIN_BEYOND = 10  # a percentile keeps at least this many samples beyond it


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`.

    Raises ValueError when fewer than MIN_BEYOND samples lie beyond it:
    such a percentile would describe a handful of samples, not a tail.
    The median is exempt (it needs only one sample)."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(round(q * n, 9)))  # 1-based; round() absorbs 0.9 * 100 = 90.000...01
    if q != 0.5 and n - rank < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} keeps {n - rank} samples beyond it, "
                         f"needs {MIN_BEYOND}")
    return sorted(values)[rank - 1]


def due_latencies(due_by_record, commit_by_batch, batch_by_record):
    """Open-loop latency of each record: the commit time of the batch that
    carried it minus the time it was due to be offered (not when it was
    actually offered, so generator lateness counts against the system)."""
    return [commit_by_batch[batch_by_record[r]] - due
            for r, due in due_by_record.items()]


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


def clipped(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        clipped([(c["start"], c["end"]) for c in children], span["start"], span["end"]))


def driver_gap(exec_span, stage_intervals):
    """Wall time of an execution that no stage covers: planning, job
    launch, result transfer and the Spark driver's own work between jobs."""
    return self_time(exec_span, [{"start": s, "end": e} for s, e in stage_intervals])

