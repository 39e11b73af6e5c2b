"""``analytics_mix``: a fixed list of catalog rows at sf0.1, in the same
pass order every time, timed on the production path (``SPARK_GRAFT_BENCH=1``,
results materialized with the ``noop`` sink, as ``bench.py`` does).

The warm-up pass runs the same rows on the same tables but collects their
outputs; those are checked once per run, outside the timed passes, against
each row's DuckDB oracle with the correctness gate's normalisation
(``tests/oracle.py``).  No row of the mix has a bench-mode branch (the rows
``tools/bench_mode_check.py`` covers), so the gate's oracle covers the
timed path.  Warming on the measured tables also leaves every measured
pass in the same state (statistics the planner rows cache are already
there), so the passes agree on their job count.
"""

from __future__ import annotations

import time

import datagen
from common import JobCounter, Timer, du, geomean, log, median
from workload import MIX_QUERIES, Workload, maybe_span


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AnalyticsMix(Workload):
    name = "analytics_mix"
    sf = 0.1

    def prepare(self, ctx) -> None:
        self.sf_dir = ctx.work / "sf"
        self.table_rows = datagen.write_catalog_tables(self.sf_dir, self.sf * self.scale, ctx.seed)
        self.lake_bytes = du(self.sf_dir)

    def _pass(self, ctx, tracer=None) -> dict[str, float]:
        from pubic_multi_platform_to_postgres_spark.queries import REGISTRY

        times = {}
        for q in MIX_QUERIES:
            with maybe_span(tracer, f"query.{q}"), Timer() as t:
                _noop(REGISTRY[q].fn(ctx.spark, str(self.sf_dir)))
            times[q] = t.s
        return times

    def warm_up(self, ctx) -> None:
        """One pass that collects each row's output for the oracle check."""
        from pubic_multi_platform_to_postgres_spark.queries import REGISTRY

        self.outputs = {}
        for q in MIX_QUERIES:
            self.outputs[q] = REGISTRY[q].fn(ctx.spark, str(self.sf_dir)).toPandas()

    def measure(self, ctx, seconds: float, tracer=None) -> dict:
        m = {"pass": [], "jobs": [], "query": {q: [] for q in MIX_QUERIES}}
        t0 = time.perf_counter()
        while len(m["pass"]) < 2 or time.perf_counter() - t0 < seconds:
            with maybe_span(tracer, "phase.step"), JobCounter(ctx.spark) as jc, Timer() as t:
                times = self._pass(ctx, tracer)
            m["pass"].append(t.s)
            m["jobs"].append(jc.jobs)
            log(f"pass {len(m['pass'])}: {t.s:.3f} s, {jc.jobs} jobs")
            for q, s in times.items():
                m["query"][q].append(s)
        log("per-row medians " + ", ".join(f"{q} {median(ts):.3f}" for q, ts in m["query"].items()))
        m["input_rows"] = self._check(ctx, len(m["pass"]))
        m["bytes_ratio"] = du(self.sf_dir) / self.lake_bytes
        return m

    def _check(self, ctx, passes: int) -> int:
        """Oracle-check every row once; returns the input rows one pass reads."""
        from oracle import assert_frames_match, run_oracle

        from pubic_multi_platform_to_postgres_spark.queries import REGISTRY

        sf = str(self.sf_dir)
        input_rows = 0
        for q in MIX_QUERIES:
            t0 = time.perf_counter()
            df = REGISTRY[q].fn(ctx.spark, sf)
            read = {f.rsplit("/", 1)[-1].removesuffix(".parquet") for f in df.inputFiles()}
            input_rows += sum(self.table_rows[t] for t in read if t in self.table_rows)
            ctx.attempted += passes
            want = run_oracle(REGISTRY[q].oracle, sf)
            if ctx.corrupt:
                want = want.iloc[1:]
            try:
                assert_frames_match(self.outputs[q], want, q)
                ok = True
            except AssertionError as exc:
                ok = ctx.check(False, str(exc))
            ctx.failed += 0 if ok else passes
            log(f"{q}: checked in {time.perf_counter() - t0:.2f} s")
        return input_rows

    def e2e(self, m: dict) -> dict:
        per_query = [median(ts) for ts in m["query"].values()]
        full = median(m["pass"])
        return {"full_s": full, "step_p50_s": geomean(per_query),
                "read_p50_s": median([s for ts in m["query"].values() for s in ts]),
                "jobs_per_step": median(m["jobs"]),
                "rows_per_s": m["input_rows"] / full,
                "lake_bytes_per_user_byte": m["bytes_ratio"]}

    def step_times(self, m: dict) -> list[float]:
        return m["pass"]

    def layer(self, m: dict, red, roots, rows, per) -> dict:
        out = {}
        for q in MIX_QUERIES:
            spans = [s for r in roots for s in red.subtree(r) if s["name"] == f"query.{q}"]
            out[f"query.{q}.s"] = median([red.wall(s) for s in spans])
            out[f"query.{q}.jobs"] = red.exec_of(spans)["jobs"] / max(len(spans), 1)
        return out
