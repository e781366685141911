"""Arithmetic the benchmark's metrics rest on, kept apart so it is tested
on its own (`python3 -m unittest discover -s perfbench/tests`).
"""
import math

# Streams.WsReplayEpochMs: trade t = epoch + 3*seq + i for the i-th trade
# of frame `seq`.
WS_REPLAY_EPOCH_MS = 1704067200000
MIN_BEYOND = 10


def seq_of(t_ms):
    """Frame sequence number of a trade from its event timestamp."""
    return (t_ms - WS_REPLAY_EPOCH_MS) // 3


def trades_in_frame(seq):
    """Trades `Streams.wsFrameJson` puts in frame `seq`: every 10th frame
    is a ping with none, the others carry seq % 3 + 1."""
    return 0 if seq % 10 == 9 else seq % 3 + 1


def expected_trades(lo, hi):
    """Count, min, max, sum and sum of squares of the trade offsets
    d = t - epoch over frames lo..hi, the figures the stream sink observes."""
    n = s = sq = 0
    dmin = dmax = None
    for seq in range(lo, hi + 1):
        for i in range(trades_in_frame(seq)):
            d = 3 * seq + i
            n += 1
            s += d
            sq += d * d
            dmin = d if dmin is None else min(dmin, d)
            dmax = d if dmax is None else max(dmax, d)
    return {"n": n, "d_min": dmin, "d_max": dmax, "d_sum": s, "d_sq": sq}


def due_ms(seq, lo, hi, ts_lo, ts_hi):
    """Rate-source due time of frame `seq` in a batch whose first and last
    frames lo and hi were due at ts_lo and ts_hi; the source spaces frames
    evenly in between."""
    if hi == lo:
        return float(ts_lo)
    return ts_lo + (seq - lo) * (ts_hi - ts_lo) / (hi - lo)


def trade_latencies(lo, hi, ts_lo, ts_hi, commit_ms):
    """(latency_ms, trades) per trade-bearing frame of one batch: every
    trade of a frame waits from the frame's due time to the batch's
    commit."""
    out = []
    for seq in range(lo, hi + 1):
        k = trades_in_frame(seq)
        if k:
            out.append((commit_ms - due_ms(seq, lo, hi, ts_lo, ts_hi), k))
    return out


def quantile(values, p):
    """p-th percentile with linear interpolation between closest ranks, for
    the few, unequal samples of a closed loop."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def percentile(values, p, weights=None):
    """Nearest-rank p-th percentile (0 < p <= 100), optionally weighted."""
    if not values:
        raise ValueError("percentile of no values")
    pairs = sorted(zip(values, weights or [1] * len(values)))
    total = sum(w for _, w in pairs)
    rank = math.ceil(p / 100.0 * total)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= rank:
            return v
    return pairs[-1][0]


def supported(n, p):
    """True when at least MIN_BEYOND of n samples lie beyond the p-th
    percentile."""
    return n * (100 - p) >= MIN_BEYOND * 100


def highest_supported(n, ladder=(99, 95, 90, 75, 50)):
    """The highest percentile in `ladder` that n samples support, or None."""
    return next((p for p in ladder if supported(n, p)), None)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total = 0.0
    end = -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def driver_gap(start, end, stage_intervals):
    """Wall time of [start, end] not covered by any running stage."""
    return (end - start) - union_length(stage_intervals, start, end)


def self_times(spans):
    """Span id -> own duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
        kids.get(s["id"], []), s["start_ms"], s["end_ms"]) for s in spans}
