"""Aggregation of a run's raw per-execution records into metrics.

The harness records one entry per execution of an operation:
`{"op", "phase": "cold"|"warm", "round", "wall_s", "ok", "trace": {...}}`.
Everything here is a pure function of those records, so it is unit-tested
on its own (`test_stats.py`).
"""
import statistics

# Candidate tail percentiles, lowest first.
TAIL_PERCENTILES = (75.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(samples):
    """The highest candidate percentile with at least ten samples beyond it,
    as (percentile, value); None when even p75 has fewer than ten beyond
    it (fewer than forty samples), in which case only the median is
    reported."""
    n = len(samples)
    best = None
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    if best is None:
        return None
    s = sorted(samples)
    # nearest-rank percentile
    k = max(0, min(n - 1, int(-(-best * n // 100)) - 1))
    return best, s[k]


def failed_ops(execs, check):
    """Operations that count as failed: any execution raised, or the
    output check (op -> bool) did not pass."""
    ops = {e["op"] for e in execs}
    raised = {e["op"] for e in execs if not e["ok"]}
    return {op for op in ops if op in raised or not check.get(op, False)}


def correct(execs, checks):
    """Whether the run's outputs are right: every operation has an output
    check and it passed (op -> None), and no execution raised. One wrong
    operation makes the whole run incorrect, so a broken output can never
    read as a faster pass."""
    ops = {e["op"] for e in execs}
    return (bool(ops) and all(e["ok"] for e in execs)
            and all(op in checks and checks[op] is None for op in ops))


def _warm(execs, failed):
    """Warm executions of operations that did not fail."""
    return [e for e in execs if e["phase"] == "warm" and e["op"] not in failed]


def op_samples(execs, failed):
    """Warm wall-time samples per operation, failed operations excluded."""
    out = {}
    for e in _warm(execs, failed):
        out.setdefault(e["op"], []).append(e["wall_s"])
    return out


def op_medians(execs, failed):
    return {op: median(ts) for op, ts in op_samples(execs, failed).items()}


def pass_time(execs, failed):
    """Steady-state pass time: the sum over operations of each one's
    median warm time."""
    return sum(op_medians(execs, failed).values())


def cold_pass_time(execs, failed):
    return sum(e["wall_s"] for e in execs
               if e["phase"] == "cold" and e["op"] not in failed)


def counts(execs, failed):
    """(attempted, failed) executions; every execution of a failed
    operation counts as failed."""
    return len(execs), sum(1 for e in execs if e["op"] in failed)


def per_op_layers(execs, failed, fields):
    """Per operation: each trace field's median across the warm rounds."""
    per_op = {}
    for e in _warm(execs, failed):
        per_op.setdefault(e["op"], []).append(e["trace"])
    return {op: {f: median([t.get(f, 0.0) for t in ts]) for f in fields}
            for op, ts in per_op.items()}


def layer_sums(execs, failed, fields):
    """For each trace field, the sum over operations of the field's median
    across the warm rounds."""
    per_op = per_op_layers(execs, failed, fields).values()
    return {f: sum(layers[f] for layers in per_op) for f in fields}


def union_ms(spans, lo, hi):
    """Length of the union of [start, end] spans, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0)


def add_driver_time(execs):
    """Set each traced execution's `driver_s`: its wall span minus the union
    of its stages' spans, the time no stage of it was running."""
    for e in execs:
        t = e["trace"]
        if "span_ms" in t:
            lo, hi = t["span_ms"]
            t["driver_s"] = (hi - lo - union_ms(t["stage_spans_ms"], lo, hi)) / 1e3


def batch_p50(execs, failed):
    """Median over warm rounds of each round's median micro-batch time."""
    rounds = {}
    for e in _warm(execs, failed):
        rounds.setdefault(e["round"], []).extend(e["trace"].get("batch_s", []))
    p50s = [median(b) for b in rounds.values() if b]
    return median(p50s) if p50s else 0.0


def cold_sum(execs, failed, field):
    return sum(e["trace"].get(field, 0.0) for e in execs
               if e["phase"] == "cold" and e["op"] not in failed)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives
    the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
