"""The benchmark's arithmetic, kept apart so its self-tests can pin it."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """(value, percentile, n) at the highest percentile that still has at
    least `beyond` samples strictly above it.

    With n sorted samples the candidate is the (n - beyond)-th smallest
    (1-based), i.e. percentile 100 * (n - beyond) / n. Ties are honoured:
    if the candidate's value repeats above it, step down until `beyond`
    samples are strictly greater. With `beyond` or fewer samples no such
    percentile exists; the maximum is reported at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - beyond - 1
    while i > 0 and s[i] == s[i + 1]:
        i -= 1
    if n - (i + 1) < beyond or s[i] == s[i + 1]:
        return s[-1], 100.0, n
    return s[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window, intervals):
    """Wall time of `window` not covered by any job interval (clipped to it)."""
    ws, we = window
    clipped = [(max(s, ws), min(e, we)) for s, e in intervals]
    return (we - ws) - union_length(clipped)


def event_latencies(events, sink):
    """Creation-to-emission latency of every emitted running-aggregate row.

    `events`: (event_id, key, ts_us, created_us) of every event the query
    accepted. `sink`: (event_id, emit_us) per emitted row. A row of the
    running aggregate depends on every event of its key at or before it in
    (event time, event id) order, so its last contributing event is the
    latest-created of those. Returns {event_id: latency_us}."""
    by_key = {}
    for eid, key, ts, created in events:
        by_key.setdefault(key, []).append((ts, eid, created))
    last_created = {}
    for rows in by_key.values():
        rows.sort()
        latest = -math.inf
        for ts, eid, created in rows:
            latest = max(latest, created)
            last_created[eid] = latest
    return {eid: emit - last_created[eid] for eid, emit in sink if eid in last_created}
