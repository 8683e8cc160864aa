"""Pure helpers for the benchmark's statistics and trace arithmetic.
No Spark, no I/O: test_stats.py covers each on synthetic inputs."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest sample that still has `beyond` samples above it,
    as (value, percentile, n). With `beyond` or fewer samples no such
    sample exists, and the maximum is returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond - 1          # 0-based rank; s[k+1:] holds `beyond` samples
    return s[k], 100.0 * (k + 1) / n, n


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def driver_gap_ms(span, job_intervals):
    """Span wall not covered by any job running inside it."""
    lo, hi = span
    return (hi - lo) - union_ms([clip(j, lo, hi) for j in job_intervals])


def self_times(spans):
    """Self time per span id: its duration minus the union of its
    direct children's intervals (children are clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        cov = union_ms([clip((c["start_ms"], c["end_ms"]), lo, hi) for c in kids.get(s["id"], [])])
        out[s["id"]] = (hi - lo) - cov
    return out


def innermost(spans, t):
    """Id of the innermost span open at time t (the latest-starting
    span that contains t), or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return None if best is None else best["id"]


def subtree(spans, root_id):
    """Ids of `root_id` and all its descendants."""
    ids, grew = {root_id}, True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                grew = True
    return ids


def run_overhead(run_s, compile_s, sinks_write_s, catalog_record_s):
    """Runner time outside compile, sink writes and the catalog write."""
    return run_s - compile_s - sinks_write_s - catalog_record_s


def extra_jobs(run_jobs, compile_jobs, transform_jobs, sink_jobs):
    """Jobs the runner ran beyond compiling, transforming and writing."""
    return run_jobs - compile_jobs - transform_jobs - sink_jobs


def record_row_error(recorded, actual):
    """|recorded - actual| / actual for the rows a run says it wrote."""
    if actual <= 0:
        return 0.0 if recorded == actual else math.inf
    return abs(recorded - actual) / actual


def canon_value(v):
    """FIXTURES.md section 3: doubles to 6 places, NULL as a token that
    no string can equal, everything else as its string form."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return repr(0.0 if r == 0 else r)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical(rows, columns=None):
    """Rows (dicts or tuples) projected to `columns`, rendered with
    canon_value and sorted: a total order with NULLS FIRST."""
    out = []
    for r in rows:
        vals = [r[c] for c in columns] if columns is not None else list(r)
        out.append(tuple((0, "") if v is None else (1, canon_value(v)) for v in vals))
    return sorted(out)
