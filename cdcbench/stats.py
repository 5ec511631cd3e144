"""Arithmetic of the benchmark: percentiles, the file-offset to trigger
mapping behind freshness, span self time and the trace overhead.
Pure functions over plain data, so `test_stats.py` can pin them."""
import json
import math
import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, beyond=10):
    """Highest whole percentile p whose nearest-rank value still has at
    least `beyond` of n samples strictly above its rank, or None when n
    is too small for any percentile to qualify."""
    best = None
    for p in range(1, 100):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            best = p
    return best


def files_consumed(offset):
    """Files a source offset covers. The spool source's offset is the
    file count itself; the parquet file source's `{"logOffset": k}` is
    the index of the k-th one-file batch, so it covers k + 1 files; no
    offset (before the first batch) covers none."""
    if offset is None:
        return 0
    o = json.loads(offset) if isinstance(offset, str) else offset
    if isinstance(o, dict):
        return int(o["logOffset"]) + 1
    return int(o)


def triggers(progress):
    """Data-carrying triggers as dicts with start/end epoch ms and the
    file range (start_files, end_files] they consumed."""
    out = []
    for p in progress:
        s, e = files_consumed(p.get("start_off")), files_consumed(p.get("end_off"))
        if e <= s:
            continue
        d = p["durations"]
        out.append({"batch": p["batch"], "start": p["start_ms"],
                    "end": p["start_ms"] + d.get("triggerExecution", 0),
                    "ms": d.get("triggerExecution", 0), "start_files": s, "end_files": e,
                    "rows": p.get("rows", 0), "durations": d})
    return out


def trigger_of_file(position, trigs):
    """The trigger whose file range contains the 1-based file position."""
    for t in trigs:
        if t["start_files"] < position <= t["end_files"]:
            return t
    return None


def freshness(files, trigs):
    """Per file: end of the trigger that published it minus its due time.
    `files` holds (position, due_ms) pairs; unpublished files are skipped."""
    out = []
    for pos, due in files:
        t = trigger_of_file(pos, trigs)
        if t is not None:
            out.append(t["end"] - due)
    return out


def backlog(files, trigs):
    """At each file's due time: files due so far minus files published
    by then. `files` are (position, due_ms) in schedule order."""
    base = files[0][0] - 1 if files else 0
    out = []
    for k, (_, due) in enumerate(files, 1):
        done = max([t["end_files"] for t in trigs if t["end"] <= due], default=base)
        out.append(k - min(k, max(0, done - base)))
    return out


def saturated(bl, min_growth=2):
    """The backlog grows across the schedule: its last third exceeds its
    first third by at least `min_growth` files."""
    if len(bl) < 3:
        return False
    k = len(bl) // 3
    return max(bl[-k:]) - max(bl[:k]) >= min_growth


def union_ms(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Span id -> its duration minus the time its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_ms(clip(kids.get(s["id"], []), s["start"], s["end"])) for s in spans}


def overhead_pct(untraced, traced):
    """How much slower the traced run was, in percent of the untraced one."""
    return (traced / untraced - 1.0) * 100.0 if untraced > 0 else 0.0

