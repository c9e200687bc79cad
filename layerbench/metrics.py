"""The benchmark's arithmetic: output digests, best-of-passes sums,
tail percentiles, self time over overlapping spans, and spread.

Everything here is pure Python over plain values, so
`test_metrics.py` can pin it down without Spark.
"""
import datetime
import decimal
import hashlib
import math
import statistics

INF = math.inf
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ---- output check ----------------------------------------------------

def canon(v):
    """One text form per value, following `scripts/check.py`: both sides
    are read through DuckDB, so equal Python values give equal text."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # -0.0 and 0.0 compare equal
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta,
                      decimal.Decimal)):
        return str(v)
    return repr(v)


def digest(cols, rows):
    """Order-independent digest of a result: columns in name order, each
    row hashed, the row hashes summed mod 2^64, with the row count."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        h = hashlib.blake2b(text.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return f"{','.join(sorted(cols))}|{len(rows)}|{total:016x}"


def force_value(rows):
    """What Bench's force returns for these rows: the sum over columns
    of the non-null count."""
    return sum(1 for r in rows for v in r if v is not None)


def check_runs(execs, expected):
    """Marks each timed execution failed when it threw, when its
    operation's output digest did not match the oracle, or when its
    force value differs from the oracle's. `expected` maps an op to
    {"digest_ok": bool, "value": int or None}; an op missing from it
    has no oracle, and its executions must agree with each other.
    Returns (failed, names of failing ops)."""
    failed, bad = 0, set()
    first = {}
    for e in execs:
        op = e["op"]
        exp = expected.get(op)
        if exp is None:
            ok = e["ok"] and first.setdefault(op, e["value"]) == e["value"]
        else:
            ok = e["ok"] and exp["digest_ok"] and (
                exp["value"] is None or exp["value"] == e["value"])
        if not ok:
            failed += 1
            bad.add(op)
    return failed, sorted(bad)


# ---- latency arithmetic ----------------------------------------------

def op_seconds(e):
    return (e["end_us"] - e["start_us"]) / 1e6 if e["ok"] else INF


def best_of_passes(execs):
    """Sum over operations of each operation's best time across the
    timed passes (Bench's min-of-sweeps rule)."""
    best = {}
    for e in execs:
        t = op_seconds(e)
        best[e["op"]] = min(best.get(e["op"], INF), t)
    return sum(best.values())


def nearest_rank(sorted_vals, p):
    n = len(sorted_vals)
    return sorted_vals[max(0, math.ceil(p / 100.0 * n) - 1)]


def tail(values, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least `min_beyond`
    samples above its rank. Failed operations are passed as inf, so they
    sort to the top. Returns (percentile, value); (None, max) when no
    candidate qualifies."""
    vals = sorted(values)
    n = len(vals)
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p, nearest_rank(vals, p)
    return None, (vals[-1] if vals else INF)


def median(values):
    return statistics.median(values) if values else INF


# ---- spans -----------------------------------------------------------

def self_times(spans):
    """Self time of each span: its duration less the part its children
    cover. Where children overlap each other, the shared time is split
    evenly among them, so the self times of a tree always add up to the
    root's wall time. `spans` maps id -> (start, end, parent id or None);
    a child is clipped to its parent. Returns id -> self time."""
    kids = {}
    for sid, (_, _, parent) in spans.items():
        kids.setdefault(parent, []).append(sid)
    out = {sid: 0.0 for sid in spans}

    def visit(sid, lo, hi, weight):
        children = [(max(lo, spans[k][0]), min(hi, spans[k][1]), k)
                    for k in kids.get(sid, [])]
        children = [c for c in children if c[1] > c[0]]
        # sweep: each elementary interval goes to the span itself when no
        # child is active, else it is shared evenly by the active ones
        edges = sorted({lo, hi} | {c[0] for c in children}
                       | {c[1] for c in children})
        for a, b in zip(edges, edges[1:]):
            active = [k for s, e, k in children if s <= a and e >= b]
            if not active:
                out[sid] += weight * (b - a)
            for k in active:
                visit(k, a, b, weight / len(active))

    for root in kids.get(None, []):
        visit(root, spans[root][0], spans[root][1], 1.0)
    return out


# ---- spread ----------------------------------------------------------

def spread(values):
    """Median, quartiles, IQR/median and (max-min)/median."""
    vals = sorted(values)
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = med
    rel = (lambda x: x / med if med else (0.0 if x == 0 else INF))
    return {"median": med, "q1": q1, "q3": q3, "iqr_rel": rel(q3 - q1),
            "range_rel": rel(vals[-1] - vals[0]), "n": len(vals)}
