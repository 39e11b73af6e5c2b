"""The run protocol every workload shares, and the metric catalog.

``execute`` runs one workload: inputs from the seed, ``setup_s`` (cold
session start plus a warm-up pass), then the measured loop.  With
``--trace 1`` the session runs with Spark's event log on and the measuring
time is split: the first half runs untraced (the baseline for the tracing
overhead), then the layer functions are wrapped and the second half is
measured traced and reduced to the per-layer table.
"""

from __future__ import annotations

import json
import sys
from contextlib import nullcontext

from common import Ctx, Timer, log, median, peak_rss_mb, run_setup

# name -> unit; every workload reports all of them
E2E = {
    "setup_s": "s",
    "full_s": "s",
    "step_p50_s": "s",
    "read_p50_s": "s",
    "jobs_per_step": "count",
    "rows_per_s": "1/s",
    "lake_bytes_per_user_byte": "ratio",
}

MIX_QUERIES = [
    "q01_pricing_summary",
    "join_region_revenue",
    "join_asof_auto_events",
    "corpus_curation_funnel",
]

LAYER = {
    "rest.extract_s": "s", "rest.pages": "count", "rest.rows": "count",
    "pipeline.rows_to_df_s": "s", "pipeline.sync_stream_p50_s": "s",
    "pipeline.sync_stream_max_s": "s", "pipeline.jobs": "count",
    "pipeline.driver_gap_s": "s", "pipeline.quarantined_rows": "count",
    "transform.plan_s": "s",
    "upsert.write_s": "s", "upsert.jobs": "count", "upsert.rows_in": "count",
    "upsert.rows_changed": "count", "upsert.rows_rewritten": "count",
    "upsert.useful_ratio": "ratio", "upsert.write_amp": "ratio",
    "stats.merge_batch_s": "s", "stats.jobs": "count", "stats.live_probes": "count",
    "state.load_s": "s", "state.save_s": "s",
    "views.materialize_s": "s", "views.query_s": "s",
    **{f"query.{q}.{k}": u for q in MIX_QUERIES for k, u in (("s", "s"), ("jobs", "count"))},
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.scan_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "exec.driver_gap_s": "s",
    "phase.full.jobs": "count", "phase.step.jobs": "count", "phase.read.jobs": "count",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio", "trace.explained_full_share": "ratio",
    "trace.explained_step_share": "ratio", "trace.explained_read_share": "ratio",
}


def maybe_span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class Workload:
    name = ""
    scale = 1.0  # input size multiplier (the self-test shrinks it)

    def prepare(self, ctx: Ctx) -> None:
        """Make the inputs from ``ctx.seed``."""

    def warm_up(self, ctx: Ctx) -> None:
        """One untimed pass over small inputs."""

    def measure(self, ctx: Ctx, seconds: float, tracer=None) -> dict:
        raise NotImplementedError

    def e2e(self, m: dict) -> dict:
        """End-to-end metrics (all of ``E2E`` but ``setup_s``)."""
        raise NotImplementedError

    def step_times(self, m: dict) -> list[float]:
        raise NotImplementedError

    def unit_roots(self, red) -> tuple[list[dict], int]:
        """Top spans of the measured loop's units and the unit count
        (per-layer figures are per unit)."""
        roots = [s for s in red.spans.values() if s["name"] == "phase.step"]
        return roots, len(roots)

    def layer(self, m: dict, red, roots: list[dict], rows: dict, per) -> dict:
        """Workload-specific per-layer figures; ``rows`` is the span table
        under ``roots``, ``per`` divides by the unit count."""
        return {}


def execute(wl: Workload, ctx: Ctx) -> dict[str, tuple[float, str]]:
    """Run ``wl``; returns ``{metric: (value, unit)}`` for the requested mode."""
    with Timer() as t:
        wl.prepare(ctx)
    log(f"{wl.name}: inputs made in {t.s:.2f} s")
    # a traced run keeps Spark's event log on from the start, so both of
    # its halves run in the same warm session
    log_dir = ctx.work / "eventlog" if ctx.trace else None
    setup_s = run_setup(ctx, lambda: wl.warm_up(ctx), event_log=log_dir)
    log(f"{wl.name}: set up in {setup_s:.2f} s")
    if not ctx.trace:
        with Timer() as t:
            m = wl.measure(ctx, ctx.seconds)
        log(f"{wl.name}: measured and checked in {t.s:.2f} s")
        values = {**wl.e2e(m), "setup_s": setup_s}
        return {k: (values[k], E2E[k]) for k in E2E}
    return traced_run(wl, ctx, log_dir)


def traced_run(wl: Workload, ctx: Ctx, log_dir) -> dict[str, tuple[float, str]]:
    """Untraced half, then traced half in the same session; returns the
    per-layer metrics and writes the per-layer table."""
    from pubic_multi_platform_to_postgres_spark.plans.stats import CORPUS_STATS
    from tracing import Reduced, Tracer, format_table, read_event_log

    base = wl.measure(ctx, ctx.seconds / 2)
    tracer = Tracer(ctx.spark, run_id=f"{wl.name}-{ctx.seed}")
    tracer.install()
    probes = CORPUS_STATS.probe_count
    try:
        m = wl.measure(ctx, ctx.seconds / 2, tracer)
    finally:
        tracer.uninstall()
    probes = CORPUS_STATS.probe_count - probes
    rss = peak_rss_mb(ctx.spark)
    ctx.spark.stop()  # flushes the event log
    ctx.spark = None
    red = Reduced(tracer.spans, *read_event_log(log_dir))
    roots, n = wl.unit_roots(red)
    n = max(n, 1)

    def per(x):
        return x / n

    values = {k: 0.0 for k in LAYER}
    rows = red.layer_rows(roots)
    ex = red.exec_of([s for r in roots for s in red.subtree(r)])
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "scan_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        values[f"exec.{k}"] = per(ex[k])
    values["exec.peak_exec_mem_bytes"] = ex["peak_exec_mem_bytes"]
    values["exec.driver_gap_s"] = per(sum(red.driver_gap(r) for r in roots))
    up = rows.get("upsert.write", {})
    values["upsert.write_s"] = per(up.get("wall_s", 0.0))
    values["upsert.jobs"] = per(up.get("jobs", 0))
    values["upsert.rows_rewritten"] = per(up.get("out_records", 0))
    values["stats.merge_batch_s"] = per(rows.get("stats.merge_batch", {}).get("wall_s", 0.0))
    # the sink's fold around merge_batch and the sidecar publish are
    # statistic work too
    values["stats.jobs"] = per(sum(rows.get(k, {}).get("jobs", 0) for k in
                                   ("stats.fold", "stats.merge_batch", "stats.publish")))
    values["stats.live_probes"] = probes
    values["mem.peak_rss_mb"] = rss
    values.update(wl.layer(m, red, roots, rows, per))
    if values["upsert.rows_rewritten"]:
        values["upsert.useful_ratio"] = values["upsert.rows_changed"] / values["upsert.rows_rewritten"]
    if m.get("batch_bytes"):
        # bytes the sink writes (table rewrite and statistic sidecars) over
        # the parquet bytes of the batches it was given
        writes = [x for r in roots for s in red.subtree(r) if s["name"] == "upsert.write"
                  for x in red.subtree(s)]
        values["upsert.write_amp"] = red.exec_of(writes)["out_bytes"] / m["batch_bytes"]
    for phase in ("full", "step", "read"):
        spans = [s for s in red.spans.values() if s["name"] == f"phase.{phase}"]
        if spans:
            values[f"phase.{phase}.jobs"] = (
                sum(len(x["jobs"]) for s in spans for x in red.subtree(s)) / len(spans))
            values[f"trace.explained_{phase}_share"] = median([red.covered(s) for s in spans])
    untraced, traced = median(wl.step_times(base)), median(wl.step_times(m))
    values["trace.overhead_share"] = traced / untraced - 1.0

    table = format_table(rows, n)
    out = ctx.root / ".perfbench_work" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    stem = out / f"{wl.name}-seed{ctx.seed}"
    stem.with_suffix(".txt").write_text(
        f"{table}\ntracing overhead: {values['trace.overhead_share']:+.3f} "
        f"(step median {traced:.4f} s traced vs {untraced:.4f} s untraced)\n")
    stem.with_suffix(".json").write_text(json.dumps(
        {"workload": wl.name, "seed": ctx.seed, "units": n, "layers": rows,
         "metrics": values, "spans": tracer.spans}, default=str, indent=1))
    print(table, file=sys.stderr)
    return {k: (values[k], LAYER[k]) for k in LAYER}
