"""The benchmark's arithmetic, kept free of I/O so it can be tested."""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (percentile, value), or None with too few samples. With n
    sorted samples the value is the (n - beyond)-th smallest, so exactly
    `beyond` samples lie beyond it; its percentile is its rank over n.
    """
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, sorted(xs)[k - 1]


def closed_loop(ops, wall_s):
    """Throughput and failures of a closed loop.

    `ops` are (t0_ms, t1_ms, ok) for every attempted operation; `wall_s`
    is the measured phase, from its start until the last client
    returned. Only successful operations count as completed work; a
    failed or wrong operation counts against `failed_frac`.
    """
    attempted = len(ops)
    failed = sum(1 for o in ops if not o[2])
    done = attempted - failed
    return {
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted if attempted else 0.0,
        "ops_per_s": done / wall_s if wall_s > 0 else 0.0,
    }


def write_amp(bytes_written, input_bytes):
    """Bytes written under the table and index roots per byte of batch input."""
    return bytes_written / input_bytes if input_bytes else 0.0


def space_amp(on_disk_bytes, compact_bytes):
    """Bytes on disk at the end per byte of the live state written once."""
    return on_disk_bytes / compact_bytes if compact_bytes else 0.0


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover.

    `spans` are dicts with id, parent, t0, t1. Children are clipped to
    their parent's interval; overlapping children count once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inside = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                  for c in kids.get(s["id"], [])]
        inside = [(a, b) for a, b in inside if b > a]
        out[s["id"]] = (s["t1"] - s["t0"]) - covered(inside)
    return out


def wait_frac(task_s, wall_s, cores):
    """Share of the cores' time over `wall_s` that ran no task."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return 1.0 - task_s / (wall_s * cores)
