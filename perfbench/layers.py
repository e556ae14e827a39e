"""Per-layer metrics of a traced run, from its spans and its event log.

Every value is per traced iteration (summed over the spans an iteration
makes, then averaged over iterations), so the top-level spans' `wall_s`
values add up, with the benchmark's own glue, to `trace.run_s`: the
traced iteration's wall net of the tracer's own counts and probes. A
layer the workload does not call reports 0.
"""

from __future__ import annotations

from .spans import FAMILY, EventLog, metric_prefix

# Layers that get the full metric family, in report order.
SPANS = (
    "tiling",
    "raster.agg",
    "raster.extract",
    "transects",
    "timeseries.asof",
    "text",
    "dedup.band_keys",
    "dedup.assign",
    "sinks",
)

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"

_UNITS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "rows_out": ("rows", "lower"),
}

EXTRA = {
    "raster.extract_python_s": ("s", "lower"),
    "raster.extract_python_bytes": ("bytes", "lower"),
    "raster.kernel_s": ("s", "lower"),
    "raster.scene_keep_ratio": ("ratio", "higher"),
    "transects.replication": ("ratio", "lower"),
    "timeseries.window_rows": ("rows", "lower"),
    "text.cpu_s": ("s", "lower"),
    "dedup.band_rows_per_doc": ("ratio", "lower"),
    "dedup.python_s": ("s", "lower"),
    "dedup.dup_frac": ("ratio", "higher"),
    "sinks.commit_s": ("s", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "plans.wall_s": ("s", "lower"),
    "plans.jobs": ("count", "lower"),
    "plans.stages": ("count", "lower"),
    "plans.tasks": ("count", "lower"),
    "plans.driver_gap_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "trace.run_s": ("s", "lower"),
    "trace.spans_wall_s": ("s", "lower"),
}


def per_layer_catalog() -> list[dict]:
    """The `per_layer` entries of BENCHMARK.json, in emission order."""
    out = []
    for span in SPANS:
        for m in FAMILY:
            unit, better = _UNITS[m]
            out.append({"name": metric_prefix(span) + m, "unit": unit, "better": better})
    for name, (unit, better) in EXTRA.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _sql(tot: dict, metric: str, node: str | None = None) -> float:
    return sum(v for (n, m), v in tot["sql"].items() if m == metric and (node is None or n == node))


def layer_metrics(log: EventLog, spans: list[dict], report: dict):
    """(metrics for the result line, span summary for the report)."""
    iters = [r for r in report["iterations"] if "plain" in r]
    n = max(1, len(iters))
    traced = {f"trace{r['i']}" for r in iters}
    spans = [s for s in spans if s["iter"] in traced]
    values: dict[str, float] = {}
    summary: dict[str, dict] = {}

    def groups_of(span: str) -> list[str]:
        return log.groups(
            lambda g: g.split("|")[0] in traced and span in g.split("|", 1)[1].split("/")
        )

    for span in SPANS:
        recs = [s for s in spans if s["span"] == span]
        groups = groups_of(span)
        tot = log.totals(groups)
        p = metric_prefix(span)
        vals = {
            "wall_s": sum(s["wall_s"] for s in recs) / n,
            "jobs": tot["jobs"] / n,
            "tasks": tot["tasks"] / n,
            "executor_run_s": tot["executor_run_s"] / n,
            "executor_cpu_s": tot["executor_cpu_s"] / n,
            "gc_s": tot["gc_s"] / n,
            "shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
            "shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
            "spill_bytes": tot["spill_bytes"] / n,
            "rows_out": sum(s.get("rows_out", 0) for s in recs) / n,
        }
        for m in FAMILY:
            values[p + m] = vals[m]
        extra: dict[str, float] = {}
        for s in recs:
            for k, v in s["extra"].items():
                extra[k] = extra.get(k, 0) + v
        write_s = sum(log.job_union_s(groups, s["start"], s["end"]) for s in recs)
        summary[span] = {"calls": len(recs) / n, "tot": tot, "extra": extra, "job_union_s": write_s / n}

    def tot(span):
        return summary[span]["tot"]

    def extra(span, key):
        return summary[span]["extra"].get(key, 0)

    values["raster.extract_python_s"] = _sql(tot("raster.extract"), PY_TIME) / 1e3 / n
    values["raster.extract_python_bytes"] = (
        _sql(tot("raster.extract"), PY_SENT) + _sql(tot("raster.extract"), PY_BACK)
    ) / n
    values["raster.kernel_s"] = extra("raster.extract", "kernel_s") / n
    values["raster.scene_keep_ratio"] = _ratio(
        extra("raster.extract", "kept_scenes"), extra("raster.extract", "scenes")
    )
    values["transects.replication"] = _ratio(
        values["transects.rows_out"] * n, extra("transects", "points")
    )
    # rows the as-of window sorts: the records its one exchange reads
    values["timeseries.window_rows"] = _sql(tot("timeseries.asof"), "records read", "Exchange") / n
    values["text.cpu_s"] = values["text.executor_cpu_s"]
    values["dedup.band_rows_per_doc"] = _ratio(
        extra("dedup.band_keys", "band_rows"), values["dedup.band_keys_rows_out"] * n
    )
    values["dedup.python_s"] = _sql(tot("dedup.assign"), PY_TIME) / 1e3 / n
    values["dedup.dup_frac"] = 1.0 - _ratio(
        extra("dedup.assign", "canonical"), values["dedup.assign_rows_out"] * n
    ) if values["dedup.assign_rows_out"] else 0.0
    values["sinks.write_s"] = summary["sinks"]["job_union_s"]
    values["sinks.commit_s"] = values["sinks.wall_s"] - values["sinks.write_s"]
    values["sinks.bytes_written"] = tot("sinks")["bytes_written"] / n

    plain_groups = [f"plain{r['i']}|plans" for r in iters]
    ptot = log.totals(plain_groups)
    gap = sum(
        r["plain"]["wall_s"]
        - log.job_union_s([f"plain{r['i']}|plans"], r["plain"]["start"], r["plain"]["start"] + r["plain"]["wall_s"])
        for r in iters
    )
    values["plans.wall_s"] = sum(r["plain"]["wall_s"] for r in iters) / n
    values["plans.jobs"] = ptot["jobs"] / n
    values["plans.stages"] = ptot["stages"] / n
    values["plans.tasks"] = ptot["tasks"] / n
    values["plans.driver_gap_s"] = gap / n
    values["session.start_s"] = report["session_start_s"]
    # the traced iteration's wall, net of the counts and probes the
    # tracer runs between spans
    aux_s = sum(s["aux_s"] for s in spans)
    values["trace.run_s"] = (sum(r["wall_s"] for r in iters) - aux_s) / n
    top = [s for s in spans if "/" not in s["path"]]
    values["trace.spans_wall_s"] = sum(s["wall_s"] for s in top) / n

    units = {e["name"]: e["unit"] for e in per_layer_catalog()}
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    top_walls: dict[str, float] = {}
    for s in top:
        top_walls[s["span"]] = top_walls.get(s["span"], 0.0) + s["wall_s"] / n
    span_report = {
        "top_level_wall_s": top_walls,
        "probe_s": aux_s / n,
        "layers": {
            k: {"calls": v["calls"], "extra": v["extra"], "sql": {f"{a}|{b}": c for (a, b), c in v["tot"]["sql"].items()}}
            for k, v in summary.items()
        },
    }
    return metrics, span_report
