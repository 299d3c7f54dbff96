"""Statistics and the orders_live oracle. Pure functions: unit-tested
in ``tests/``."""
import bisect
import math
import statistics

from .gen import FULFILLED, PLACED, WINDOW_MS

GRACE_MS = 60_000  # the pipeline's watermark delay


def percentile(samples, p, min_beyond=10):
    """Nearest-rank ``p`` quantile, or None unless at least
    ``min_beyond`` samples lie beyond it (n * (1 - p) >= min_beyond)."""
    xs = sorted(samples)
    if len(xs) * (1.0 - p) < min_beyond - 1e-9:
        return None
    return xs[max(1, math.ceil(p * len(xs))) - 1]


def quartile_spread(values):
    """(q3 - q1) / median, as ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def window_end(ts_ms):
    """End of the 60 s tumbling window holding ``ts_ms``."""
    return (ts_ms // WINDOW_MS + 1) * WINDOW_MS


def closable_due(records, ends, grace_ms=GRACE_MS):
    """For each window end, the due offset of the first well-formed
    record (in schedule order) with event time >= end + grace: the
    earliest wall time the window could close. None if none does.
    Late records never move the running maximum back."""
    due, prefix = [], []
    top = None
    for r in records:
        if "event_ms" not in r:
            continue
        top = r["event_ms"] if top is None else max(top, r["event_ms"])
        due.append(r["due_s"])
        prefix.append(top)
    out = {}
    for e in ends:
        i = bisect.bisect_left(prefix, e + grace_ms)
        out[e] = due[i] if i < len(due) else None
    return out


def expected_live(records, facilities, grace_ms=GRACE_MS):
    """(facility, window end) -> (count, sum processing_ms) of the pairs
    the pipeline must emit: the earliest placed and fulfilled half per
    order (processing_ms may be negative); orders missing a half emit
    nothing; malformed records are dropped by the wire parser.

    Raises ValueError if a pair completes at a point of the schedule
    where its fulfilled time could already be behind the watermark: the
    engine's drop decision then depends on batch boundaries, so the
    traffic knobs must keep every pair clear of the grace period."""
    placed, fulfilled, done = {}, {}, set()
    top = None
    out = {}
    for r in records:
        if "event_ms" not in r:
            continue
        oid, t = r["order_id"], r["event_ms"]
        side = placed if r["type"] == PLACED else fulfilled
        side[oid] = min(side.get(oid, t), t)
        top = t if top is None else max(top, t)
        if oid in placed and oid in fulfilled and oid not in done:
            done.add(oid)
            f = fulfilled[oid]
            if f <= top - grace_ms:
                raise ValueError(f"order {oid} completes {top - f} ms behind the newest "
                                 f"event; the pipeline may drop it as late")
            key = (oid % facilities, window_end(f))
            n, s = out.get(key, (0, 0))
            out[key] = (n + 1, s + f - placed[oid])
    return out


def check_live(sink_rows, expected):
    """Compares emitted rows [facility, window end, count, sum, ...]
    with ``expected``. Every expected row must be emitted exactly once
    with equal values, and nothing else. Returns (attempted, failures)."""
    failures, seen = [], {}
    for row in sink_rows:
        key = (row[0], row[1])
        if key in seen:
            failures.append(f"window {key} emitted twice")
        seen[key] = (row[2], row[3])
    for key, want in expected.items():
        got = seen.get(key)
        if got is None:
            failures.append(f"window {key} missing")
        elif tuple(got) != tuple(want):
            failures.append(f"window {key}: got {got}, want {want}")
    extra = [k for k in seen if k not in expected]
    failures.extend(f"window {k} not expected" for k in extra)
    return len(expected) + len(extra), failures


def emit_samples(sink_rows, closable, from_s, open_s):
    """One sample per closed window: arrival of its last row at the sink
    minus the wall time it could first close (ms). Only windows that
    could first close in the measured open-loop span [from_s, open_s)
    count: not those of the warm-up, the settling part of the open loop,
    the backlog bursts or the flush."""
    last = {}
    for row in sink_rows:
        last[row[1]] = max(last.get(row[1], float("-inf")), row[4])
    out = []
    for end, at in sorted(last.items()):
        due = closable.get(end)
        if due is None or not from_s <= due < open_s:
            continue
        out.append(at - due * 1000.0)
    return out
