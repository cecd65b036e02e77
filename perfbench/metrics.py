"""Metrics from the JVM report: end-to-end (untraced run) and per-layer
(traced run). Pure functions over the report's JSON.

Query times are normalised to the host's speed. Before each timed query the
harness times the probe, a fixed Spark SQL job that runs no library code,
and every time in seconds here (all but ``setup_s``) is multiplied by
REF_PROBE_S / the median probe time of its pass. When the host runs
everything 60% slower for a while (hypervisor steal, neighbours), the probe
slows with the queries and the normalised times stay put; a change to the
library moves the queries only.
"""
import statistics

# The probe's time on an idle 4-core reference host: normalised seconds are
# seconds on a host where the probe takes this long.
REF_PROBE_S = 0.1
MODULES = ["mapreduce", "folds", "aggregation", "operators", "pipeline",
           "dedup", "similarity", "text", "multimodal", "sources.v2"]
# Per-query layer fields summed per module within a pass.
SUMMED = ["build_s", "plan_s", "exec_s", "jobs", "tasks", "driver_gap_s",
          "exec_run_s", "shuffle_mb", "spill_mb"]
LAYER_METRICS = SUMMED + ["max_task_share"]
UNITS = {"build_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count",
         "tasks": "count", "driver_gap_s": "s", "exec_run_s": "s",
         "shuffle_mb": "MB", "spill_mb": "MB", "max_task_share": "ratio"}
TIMES = ["wall_s"] + [k for k in LAYER_METRICS if UNITS[k] == "s"]


def by_pass(execs):
    passes = {}
    for e in execs:
        passes.setdefault(e["pass"], []).append(e)
    return [passes[k] for k in sorted(passes)]


def normalised(execs):
    """The executions with every time normalised by its pass's median
    probe."""
    out = []
    for p in by_pass(execs):
        f = REF_PROBE_S / statistics.median(e["probe_s"] for e in p)
        out += [{**e, **{k: e[k] * f for k in TIMES if k in e}} for e in p]
    return out


def pass_median(execs, key):
    """Median over passes of the per-pass sum of ``key``."""
    return statistics.median(sum(e[key] for e in p) for p in by_pass(execs))


def tail(values, beyond=10):
    """Highest percentile with at least ``beyond`` samples above it:
    (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def end_to_end(report, input_rows):
    """The end-to-end metrics, and notes for the run log: the tail's
    percentile and sample count, the median probe, and the pass time before
    normalisation."""
    execs = normalised(report["execs"])
    wall = pass_median(execs, "wall_s")
    times = [e["wall_s"] for e in execs]
    t, pct, n = tail(times)
    values = {
        "norm_wall_s": (wall, "s"),
        "norm_query_p50_s": (statistics.median(times), "s"),
        "norm_query_tail_s": (t, "s"),
        "norm_rows_per_s": (input_rows / wall, "rows/s"),
        "setup_s": (statistics.median(report["setup_s"]), "s"),
        "peak_exec_mem_mb": (report["peak_exec_mem_bytes"] / 1e6, "MB"),
    }
    notes = {"query_tail_percentile": pct, "query_tail_samples": n,
             "probe_s": statistics.median(e["probe_s"] for e in report["execs"]),
             "raw_wall_s": pass_median(report["execs"], "wall_s")}
    return values, notes


def per_layer(report, modules, returned_rows):
    """``<module>.<metric>`` for every module, each the median over passes
    of the per-pass sum (``max_task_share``: per-pass maximum), plus the
    sources.v2 ratios and the traced run's own ``norm_wall_s``. A module with
    no query in the workload reads 0, as do the sources.v2 ratios where no
    GraftShard query runs: every traced run prints every name."""
    execs = normalised(report["execs"])
    passes = by_pass(execs)
    out = {}
    for m in MODULES:
        per = [[e for e in p if modules.get(e["query"]) == m] for p in passes]
        for k in SUMMED:
            out[f"{m}.{k}"] = (statistics.median(sum(e[k] for e in p) for p in per), UNITS[k])
        out[f"{m}.max_task_share"] = (
            statistics.median(max([e["max_task_share"] for e in p], default=0.0) for p in per),
            "ratio")
    shard = [[e for e in p if modules.get(e["query"]) == "sources.v2"] for p in passes]

    def ratio(num, den):
        vals = [sum(num(e) for e in p) / d for p in shard
                if (d := sum(den(e) for e in p)) > 0]
        return statistics.median(vals) if vals else 0.0

    out["sources.v2.write_amp"] = (ratio(lambda e: e["bytes_left"], lambda e: e["bytes_read"]),
                                   "ratio")
    out["sources.v2.read_amp"] = (
        ratio(lambda e: e["exec_records_read"], lambda e: returned_rows.get(e["query"], 0)),
        "ratio")
    out["trace.norm_wall_s"] = (pass_median(execs, "wall_s"), "s")
    return out
