"""Reduction of the program's raw measurements to the benchmark's metrics."""
import statistics


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: (value, percentile, n). With `beyond` samples or fewer no
    percentile qualifies and value and percentile are None."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        return None, None, n
    i = n - beyond - 1
    return v[i], 100.0 * (i + 1) / n, n


def account(ops, wrong):
    """Splits operations into timed successes and failures.

    `ops` are the program's records ({name, pass, traced, wall_s, rows,
    error?}); `wrong` maps an operation name to the reason its output is
    wrong. An operation fails when it raised or its output is wrong; a
    failed operation is never timed as a success. Returns (attempted,
    failed, timed), where timed holds the successful untraced operations
    of the timed region."""
    failed = [o for o in ops if o.get("error") or o["name"] in wrong]
    bad = {id(o) for o in failed}
    timed = [o for o in ops if o["pass"] >= 0 and not o["traced"]
             and id(o) not in bad]
    return len(ops), len(failed), timed


def end_to_end(setup_s, passes, timed, rows_of, heap_mb):
    """The end-to-end metrics of one untraced run.

    rows_of(op) gives the rows an operation delivered: committed rows for
    an ingest step, result rows for a registry query."""
    walls = [o["wall_s"] for o in timed]
    t, pct, n = tail(walls)
    pass_walls = [p["wall_s"] for p in passes if not p["traced"]]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_walls),
        "op_s.p50": statistics.median(walls),
        "rows_per_s": sum(rows_of(o) for o in timed) / sum(walls),
        "heap_peak_mb": heap_mb,
    }, {"op_s.tail": t, "tail_percentile": pct, "tail_n": n}


def overhead(passes):
    """Median over traced passes of the traced wall over the mean of the
    untraced passes just before and after it, minus one. Comparing with
    both neighbours cancels the speed-up of a process still warming up."""
    by_index = {p["index"]: p for p in passes}
    ratios = []
    for k, p in by_index.items():
        before, after = by_index.get(k - 1), by_index.get(k + 1)
        if p["traced"] and before and after and not before["traced"] \
                and not after["traced"]:
            ratios.append(2 * p["wall_s"] / (before["wall_s"] + after["wall_s"]))
    return statistics.median(ratios) - 1 if ratios else float("nan")
