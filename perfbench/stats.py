"""The benchmark's arithmetic: percentiles, outcome ratios, store byte
accounting and per-layer self time. Pure functions over the driver's
records, so they can be tested without a JVM (test_stats.py)."""
import math
import statistics

MIN_BEYOND = 10   # samples a reported percentile needs above it


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share `q` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """Samples strictly above the nearest-rank q-percentile of n samples."""
    return n - max(1, math.ceil(q * n))


def highest_resolved_percentile(n):
    """The highest whole percentile with at least MIN_BEYOND samples
    beyond it, or None when n is too small for any."""
    for p in range(99, 0, -1):
        if beyond(n, p / 100) >= MIN_BEYOND:
            return p
    return None


def outcome(ops, right):
    """(attempted, failed, correct_ratio) of a list of op records. An op
    fails when it threw (`ok` false) or when `right(op)` says its result
    was wrong."""
    attempted = len(ops)
    good = sum(1 for o in ops if o["ok"] and right(o))
    if attempted == 0:
        raise ValueError("no ops attempted")
    return attempted, attempted - good, good / attempted


def median_pass_rate(ops):
    """Ops that completed with the right result per second the client
    waited on the program, taken per pass (each pass runs the whole op
    mix once) and the median over the passes, so one pass slowed by
    something outside the program does not move it."""
    passes = {}
    for o in ops:
        good, busy = passes.get(o["round"], (0, 0))
        passes[o["round"]] = (good + (o["ok"] and o["right"]), busy + o["t1"] - o["t0"])
    if not passes:
        raise ValueError("no passes")
    return statistics.median(good / busy * 1e6 for good, busy in passes.values())


def write_bytes_per_row(writes, rows_changed):
    """Bytes of the files the write statements created, per row the
    statements inserted, updated or deleted."""
    created = sum(size for w in writes for _, size in w.get("created", []))
    if rows_changed <= 0:
        raise ValueError("no rows changed")
    return created / rows_changed


def file_churn(writes):
    """(added, removed): data files per successful write that entered and
    left its table's live set, from the live sets recorded just before
    (`live_before`) and just after (`live`) each write."""
    done = [w for w in writes if w["ok"]]
    if not done:
        return 0.0, 0.0
    added = sum(len(set(w["live"]) - set(w["live_before"])) for w in done)
    removed = sum(len(set(w["live_before"]) - set(w["live"])) for w in done)
    return added / len(done), removed / len(done)


def space_amp(files, live):
    """Bytes of every file under the store root, per byte of the data
    files the tables' current snapshots reference. `files` is a list of
    (path, size) relative to the root; `live` the referenced paths."""
    size = dict(files)
    missing = [p for p in live if p not in size]
    if missing:
        raise ValueError(f"live files not on disk: {missing[:3]}")
    live_bytes = sum(size[p] for p in set(live))
    if live_bytes == 0:
        raise ValueError("no live data")
    return sum(size.values()) / live_bytes


def self_times(spans):
    """Self time of each span, by span id, in the spans' time unit.

    At each instant the time goes to the deepest open span (the latest
    started on a tie), so the self times of one trace add up to its root
    span's duration even where sibling spans overlap."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s.get("parent") is not None and s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    key = {s["id"]: (depth(s), s["start"]) for s in spans}
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if open_:
            top = max(open_, key=lambda s: key[s["id"]])
            out[top["id"]] = out.get(top["id"], 0) + (b - a)
    return out
