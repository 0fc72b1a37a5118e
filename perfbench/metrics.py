"""Metric maths for the benchmark: turns the raw per-unit samples the JVM
writes into end-to-end and per-layer metrics. Pure functions only, so
`tests/test_metrics.py` can pin them without Spark.

A *unit* is one timed operation in the closed loop: a search on the
`search_*` workloads, a pass over the row set on `rows_heavy`.
"""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Highest percentile with at least TAIL_BEYOND samples beyond it.

    Percentiles are nearest-rank: the p-th percentile of n sorted samples is
    the ceil(p*n/100)-th, so n - ceil(p*n/100) samples lie beyond it. With
    fewer than 2*TAIL_BEYOND samples no percentile above the median has ten
    beyond it, and the median is reported. Returns (value, percentile, n).
    """
    s = sorted(xs)
    n = len(s)
    pct = (100 * (n - TAIL_BEYOND)) // n if n else 0
    if pct <= 50:
        return median(s), 50, n
    rank = -(-pct * n // 100)  # ceil(pct * n / 100), exact
    return s[rank - 1], pct, n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failed_share(failed, attempted):
    return failed / attempted


def driver_self_ms(minimize_ms, submit_ms, nextbatch_ms):
    """Driver-loop time of a search: neither submitting nor in nextBatch."""
    return minimize_ms - submit_ms - nextbatch_ms


def wave_overhead_ms(wave_ms, objective_ms):
    """Wave time not spent inside the objective: Spark's share."""
    return sum(wave_ms) - objective_ms


def operations(workload, units):
    """(ok, wall_s, evaluations) per timed operation. An operation is a
    search, whose evaluations are its trial points, or on rows_heavy a pass
    over the row set, which evaluates each row once."""
    if workload == "rows_heavy":
        return [(all(r["ok"] for r in u["rows"]), u["pass_s"], len(u["rows"])) for u in units]
    return [(u["ok"], u.get("solve_s"), u.get("evals", 0)) for u in units]


def attempts(workload, units):
    """(attempted, failed), counting searches or row executions."""
    items = [r for u in units for r in u["rows"]] if workload == "rows_heavy" else units
    return len(items), sum(1 for x in items if not x["ok"])


def end_to_end(workload, units):
    """End-to-end metrics of the units (setup and memory are added by the
    caller), and the readings printed beside them but not gated.

    Gated, on every workload:
    - solve_s_p50: median wall time per operation (a search, or a pass
      over the row set, which is rows_wall_s there).
    - evals_per_s: on a search workload, Σ evaluations ÷ Σ search wall
      time; on rows_heavy, 1 ÷ rows_geomean_s, the row-execution rate at
      the geometric-mean row time, so a short row counts as much as a long
      one.

    Printed only: solve_s_tail with its percentile and n, which is the
    median below 21 operations; on rows_heavy, rows_wall_s and
    rows_geomean_s, the same readings as the two gated metrics.
    """
    ops = [o for o in operations(workload, units) if o[0]]
    walls = [o[1] for o in ops]
    tail_value, tail_pct, n = tail(walls)
    extra = {"solve_s_tail": tail_value, "tail_percentile": tail_pct, "n": n}
    if workload == "rows_heavy":
        by_row = {}
        for r in (r for u in units for r in u["rows"] if r["ok"]):
            by_row.setdefault(r["row"], []).append(r["wall_s"])
        rows_geomean = geomean([median(v) for v in by_row.values()])
        extra.update(rows_wall_s=median(walls), rows_geomean_s=rows_geomean)
        rate = 1 / rows_geomean
    else:
        rate = sum(o[2] for o in ops) / sum(walls)
    return {"solve_s_p50": median(walls), "evals_per_s": rate}, extra


def per_layer(workload, units, cores, row_names):
    """Per-layer metrics over the traced units. Search-side figures are per
    traced search; query-side figures are per traced operation (a search,
    or a row pass on rows_heavy). A layer the workload does not exercise
    reads 0.
    """
    traced = [u for u in units if u["traced"]]
    if workload == "rows_heavy":
        searches = []
        execs = [r for u in traced for r in u["rows"] if r["ok"]]
        per = max(1, len(traced))
        probed = execs
    else:
        searches = [u for u in traced if u["ok"]]
        execs = []
        per = max(1, len(searches))
        probed = searches

    def total(key, units_=probed):
        return sum(u.get(key, 0) for u in units_)

    waves = [w for s in searches for w in s["wave_ms"]]
    n_s = max(1, len(searches))
    evals = sum(s["evals"] for s in searches)
    submits = sum(s["waves"] for s in searches)
    solve_ms = 1000 * sum(s["solve_s"] for s in searches)
    objective_ms = total("objective_ms", searches)
    wall_ms = 1000 * sum(u.get("wall_s", u.get("solve_s", 0)) for u in probed)
    skews = [k for u in probed for k in u.get("stage_skews", [])]
    m = {
        "spark.submit_ms": total("submit_ms", searches) / n_s,
        "spark.wave_ms_p50": median(waves) if waves else 0.0,
        "spark.wave_ms_tail": tail(waves)[0] if waves else 0.0,
        "spark.wave_overhead_ms": wave_overhead_ms(waves, objective_ms) / n_s,
        "spark.jobs": total("jobs") / per,
        "spark.tasks": total("tasks") / per,
        "spark.task_deser_ms": total("task_deser_ms") / per,
        "spark.task_run_ms": total("task_run_ms") / per,
        "spark.provenance_ms": sum(s["build_ms"] + s["plan_ms"] + s["exec_ms"]
                                   for s in searches) / n_s,
        "search.evals": evals / n_s,
        "search.waves": submits / n_s,
        "search.accepts": total("accepts", searches) / n_s,
        "search.contractions": total("contractions", searches) / n_s,
        "search.useful_ratio": total("accepts", searches) / evals if evals else 0.0,
        "search.blocked_ms": total("blocked_ms", searches) / n_s,
        "search.driver_self_ms": sum(
            driver_self_ms(s["minimize_ms"], s["submit_ms"], s["nextbatch_ms"])
            for s in searches) / n_s,
        "search.inflight_mean": total("inflight_sum", searches) / submits if submits else 0.0,
        "stencil.steps": total("stencil_steps", searches) / n_s,
        "stencil.gen_ms": total("stencil_gen_ms", searches) / n_s,
        "objective.ms": objective_ms / n_s,
        "objective.busy_cores": objective_ms / solve_ms if solve_ms else 0.0,
        "queries.build_ms": total("build_ms") / per,
        "queries.plan_ms": total("plan_ms") / per,
        "queries.exec_ms": total("exec_ms") / per,
        "queries.jobs": total("jobs") / per,
        "queries.stages": total("stages") / per,
        "queries.tasks": total("tasks") / per,
        "queries.task_cpu_ms": total("task_cpu_ms") / per,
        "queries.gc_ms": total("gc_ms") / per,
        "queries.shuffle_read_mb": total("shuffle_read_b") / per / 2**20,
        "queries.shuffle_write_mb": total("shuffle_write_b") / per / 2**20,
        "queries.spill_mb": total("spill_b") / per / 2**20,
        "queries.skew": median(skews) if skews else 0.0,
        "queries.idle_core_share":
            1 - total("task_run_ms") / (wall_ms * cores) if wall_ms else 0.0,
        "streaming.batches": total("stream_batches", execs) / per,
        "streaming.batch_ms": total("stream_batch_ms", execs) / per,
    }
    for name in row_names:
        walls = [r["wall_s"] for r in execs if r["row"] == name]
        m[f"row.{name}.s"] = median(walls) if walls else 0.0
    return m


def overhead(workload, units):
    """Tracing overhead: each end-to-end metric over the traced units
    relative to the same metric over the untraced units of one run."""
    on, _ = end_to_end(workload, [u for u in units if u["traced"]])
    off, _ = end_to_end(workload, [u for u in units if not u["traced"]])
    return {f"overhead.{k}": (on[k] - off[k]) / off[k] for k in on}
