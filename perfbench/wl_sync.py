"""``sync_saas``: the reference's own traffic through ``run_sequence``.

Three ``Pipeline``s (wrike, hubspot, xero; five streams, ten tables) replay a
seeded API session through ``RecordedTransport``: one full-sync cycle, then
incremental change cycles, with ``reference_models()`` materialized and
queried after every cycle.  A round is one fresh lake plus all its cycles;
rounds repeat until the measuring time is used up.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from datetime import datetime
from pathlib import Path

import saas
from common import JobCounter, Timer, du, fresh_dir, log, median
from workload import Workload, maybe_span

VIEW_QUERY = """
SELECT 'proposal' AS m, count(*) AS n, sum(duration_in_days) AS s FROM proposal_durations
UNION ALL
SELECT 'quote' AS m, count(*) AS n, sum(duration_in_days) AS s FROM quote_durations
"""
RUN_START_STREAMS = ("tasks", "invoices", "budgets")
# the key statistic ingest maintains on ``tasks`` (``key_stat_cols``); every
# read after a cycle also asks the planner for its key share
STAT_COL = "status"
# view reads per incremental cycle (the dbt step itself is the first);
# read_p50_s is the median over all of them
READS_PER_UNIT = 2


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def expected_share(tasks: dict[str, dict]) -> tuple[int, float]:
    """``StatsRegistry.key_share`` of ``STAT_COL`` over the expected rows."""
    counts = Counter(t[STAT_COL] for t in tasks.values())
    return len(tasks), max(counts.values()) / len(tasks)


def expected_views(tasks: dict[str, dict]) -> dict[str, tuple[int, float]]:
    """``reference_models()`` evaluated over the expected ``tasks`` rows."""
    out = {}
    for word in ("proposal", "quote"):
        days = [round((int(_epoch(t["completedDate"])) - int(_epoch(t["createdDate"]))) / 86400.0, 4)
                for t in tasks.values()
                if t["status"] == "Completed" and t["createdDate"] and t["completedDate"]
                and word in t["title"].lower()]
        out[word] = (len(days), sum(days))
    return out


class Lake:
    """The engine objects of one round: catalog, pipelines, transports."""

    def __init__(self, session: saas.SaasSession, root: Path, tracer=None) -> None:
        from pubic_multi_platform_to_postgres_spark.operators.flatten import flatten, merge_struct
        from pubic_multi_platform_to_postgres_spark.operators.unnest import (
            split_substream, unnest_association, unnest_budget_lines)
        from pubic_multi_platform_to_postgres_spark.plans.catalog import Catalog
        from pubic_multi_platform_to_postgres_spark.sources import rest
        from pubic_multi_platform_to_postgres_spark.sources.pipeline import Pipeline, StreamSpec

        self.session, self.root, self.tracer = session, root, tracer
        self.rest = rest
        cat = Catalog()
        for pipe, streams in saas.PIPELINES.items():
            for tables in streams.values():
                for t in tables:
                    schema, key, rk, parent = saas.TABLES[t]
                    cat.register_json_schema(t, schema, key_properties=[key],
                                             replication_key=rk, parent=parent, source=pipe)
        self.fetch: dict[str, object] = {}
        self.transports: dict[str, object] = {}
        self.cycle = 0

        def extract(pipe, scan):
            def run(bookmark):
                rows = scan(self.fetch[pipe])
                if tracer is None:
                    return rows
                with tracer.span("rest.extract"):
                    return list(rows)
            return run

        def transform(fn):
            if tracer is None:
                return fn

            def run(df):
                with tracer.span("transform.plan"):
                    return fn(df)
            return run

        def tasks(df):
            return {"tasks": flatten(df)}

        def contacts(df):
            return {"contacts": df.drop("profiles"),
                    "contacts_profiles": split_substream(df, "profiles", parent_key="id",
                                                         key_parts=["accountId"])}

        def deals(df):
            return {"deals": merge_struct(df, "properties").drop("associations"),
                    "deals_companies": unnest_association(df, "companies", "id"),
                    "deals_contacts": unnest_association(df, "contacts", "id")}

        def invoices(df):
            return {"invoices": flatten(df, preserve=("LineItems",)).drop("LineItems"),
                    "invoices_lines": split_substream(df, "LineItems", parent_key="InvoiceID",
                                                      key_parts=["LineItemID"])}

        def budgets(df):
            return {"budgets": df.drop("BudgetLines"), "budgets_lines": unnest_budget_lines(df)}

        specs = {
            "wrike": [
                StreamSpec(cat.get("tasks"), extract("wrike", lambda f: rest.scan_token(
                    f, "tasks", page_size=saas.PAGE["tasks"])), transform(tasks),
                    key_stat_cols=[STAT_COL]),
                StreamSpec(cat.get("contacts"), extract("wrike", lambda f: rest.scan_full(
                    f, "contacts")), transform(contacts), bookmark_mode=None),
            ],
            "hubspot": [
                StreamSpec(cat.get("deals"), extract("hubspot", lambda f: rest.scan_cursor(
                    f, "crm/v3/objects/deals", page_size=saas.PAGE["deals"])),
                    transform(deals), bookmark_mode="max_key", client_filter=True),
            ],
            "xero": [
                StreamSpec(cat.get("invoices"), extract("xero", lambda f: rest.scan_numbered(
                    f, "Invoices")), transform(invoices)),
                StreamSpec(cat.get("budgets"), extract("xero", lambda f: rest.scan_windowed(
                    f, lambda k: f"Budgets/{k}", session.budget_keys[self.cycle], "2023-01-01",
                    saas.BUDGET_FINAL, results_key="Budgets")), transform(budgets)),
            ],
        }
        self.pipelines = [Pipeline(name, cat, specs[name], root) for name in saas.PIPELINES]

    def set_cycle(self, c: int) -> None:
        """Point every stream at cycle ``c``'s recording."""
        self.cycle = c
        for name in saas.PIPELINES:
            self.transports[name] = self.rest.RecordedTransport(self.session.recordings[c][name])
            self.fetch[name] = self.rest.Fetcher(
                transport=self.transports[name],
                retry=self.rest.RetryPolicy(sleep=lambda s: None))

    def pages(self) -> int:
        return sum(len(t.calls) for t in self.transports.values())

    def bookmarks(self) -> dict[str, str]:
        out = {}
        for name in saas.PIPELINES:
            doc = json.loads((self.root / f"state_{name}.json").read_text())
            out.update(doc["value"])
        return out


class SyncSaas(Workload):
    name = "sync_saas"
    incremental = 1

    def prepare(self, ctx) -> None:
        # below 0.05 a cycle may carry no nested sub-stream rows at all
        self.session = saas.SaasSession(ctx.seed, incremental=self.incremental,
                                        scale=max(self.scale, 0.05))
        self.warm = saas.SaasSession(ctx.seed + 7919, incremental=0, scale=0.05)

    def warm_up(self, ctx) -> None:
        """Full sync of a small recording through the first pipeline, then
        the views: the JVM-side paths of a cycle (JSON parse, typed
        projection, keyed upsert, view query) without a whole cycle's jobs."""
        from pubic_multi_platform_to_postgres_spark.plans.views import reference_models

        lake = fresh_dir(ctx.work / "warm")
        world = Lake(self.warm, lake)
        world.set_cycle(0)
        world.pipelines[0].run(ctx.spark, full_sync=True)
        _views(ctx.spark, lake, reference_models())

    def measure(self, ctx, seconds: float, tracer=None) -> dict:
        m = {"full": [], "step": [], "read": [], "jobs": [], "rows": 0, "land_s": 0.0,
             "rows_step": 0, "pages": 0, "rest_rows": 0, "quarantined": 0, "rows_changed": 0,
             "batch_bytes": 0, "probes": 0}
        lake = ctx.work / "lake"
        t0 = time.perf_counter()
        while not m["full"] or time.perf_counter() - t0 < seconds:
            self._round(ctx, self.session, lake, m=m, tracer=tracer)
        m["bytes_ratio"] = self._bytes_ratio(ctx, lake)
        return m

    # -- one round: fresh lake, full sync, incremental cycles ---------------------

    def _round(self, ctx, session, lake, m, tracer=None) -> None:
        from pubic_multi_platform_to_postgres_spark.plans.stats import CORPUS_STATS
        from pubic_multi_platform_to_postgres_spark.plans.views import reference_models
        from pubic_multi_platform_to_postgres_spark.sources.pipeline import run_sequence

        spark = ctx.spark
        probes = CORPUS_STATS.probe_count
        fresh_dir(lake)
        world = Lake(session, lake, tracer)
        models = reference_models()
        view = {}

        def after_cycle(spark):
            with Timer() as t, maybe_span(tracer, "phase.read"):
                view["rows"] = _views(spark, lake, models, tracer)
            view["s"] = t.s

        cycles = run_sequence(spark, world.pipelines, cycles=session.n_cycles, interval=0.0,
                              after_cycle=after_cycle, sleep=lambda s: None, full_sync=True)
        prev: dict[str, str] = {}
        failed = [False] * session.n_cycles
        for c in range(session.n_cycles):
            world.set_cycle(c)
            kind = "full" if c == 0 else "step"
            start = time.time()
            with maybe_span(tracer, f"phase.{kind}"), JobCounter(spark) as jc, Timer() as t:
                results = next(cycles)
            end = time.time()
            reports = [r for rs in results.values() for r in rs]
            view_rows = [view["rows"]]
            log(f"cycle {c}: {t.s:.3f} s, {jc.jobs} jobs")
            m[kind].append(t.s)
            landed = sum(sum(r.tables.values()) for r in reports)
            m["rows"] += landed
            m["land_s"] += t.s - view["s"]
            if kind == "step":
                m["read"].append(view["s"])
                # more readers query the views after the cycle
                for _ in range(READS_PER_UNIT - 1):
                    with Timer() as tr, maybe_span(tracer, "phase.read"):
                        view_rows.append(_views(spark, lake, models, tracer))
                    m["read"].append(tr.s)
                m["jobs"].append(jc.jobs)
                m["rows_step"] += landed
                m["pages"] += world.pages()
                m["rest_rows"] += session.delivered_rows[c]
                m["quarantined"] += sum(sum(r.quarantined.values()) for r in reports)
                m["rows_changed"] += _changed(session, c)
                m["batch_bytes"] += len(json.dumps(session.recordings[c]))
            failed[c] = not self._check_cycle(ctx, session, world, c, reports, view_rows,
                                              prev, start, end)
        probes = CORPUS_STATS.probe_count - probes
        m["probes"] += probes
        failed[-1] |= not self._check_lake(ctx, session, lake, view_rows[-1]["share"], probes)
        ctx.attempted += session.n_cycles
        ctx.failed += sum(failed)

    # -- output checks (outside the timed regions) --------------------------------

    def _check_cycle(self, ctx, session, world, c, reports, view_rows, prev, start,
                     end) -> bool:
        ok = ctx.check(all(r.ok for r in reports),
                       f"cycle {c}: stream errors {[r.error for r in reports if not r.ok]}")
        quarantined = {t: n for r in reports for t, n in r.quarantined.items()}
        ok &= ctx.check(quarantined == saas.BAD_PER_CYCLE,
                        f"cycle {c}: quarantined {quarantined} != {saas.BAD_PER_CYCLE}")
        bms = world.bookmarks()
        for stream in RUN_START_STREAMS:
            bm = bms.get(stream)
            good = bm is not None and start - 0.002 <= _epoch(bm) <= end
            good &= stream not in prev or bm >= prev[stream]
            ok &= ctx.check(good, f"cycle {c}: {stream} bookmark {bm} outside its run "
                                  f"[{start}, {end}] or behind {prev.get(stream)}")
        want = session.deal_bookmarks[c]
        ok &= ctx.check(bms.get("deals") == want and _epoch(want) <= start,
                        f"cycle {c}: deals max-key bookmark {bms.get('deals')} != {want}")
        ok &= ctx.check("contacts" not in bms, f"cycle {c}: full-table stream got a bookmark")
        prev.update(bms)
        exp = expected_views(session.expected[c]["tasks"])
        want_share = expected_share(session.expected[c]["tasks"])
        for rows in view_rows:
            for word, (n, s) in exp.items():
                got_n, got_s = rows.get(word, (None, None))
                ok &= ctx.check(got_n == n and got_s is not None
                                and abs(got_s - s) <= 1e-6 * max(1, abs(s)),
                                f"cycle {c}: view {word}_durations ({got_n}, {got_s}) "
                                f"!= ({n}, {s})")
            share = rows["share"]
            ok &= ctx.check(share[0] == want_share[0] and abs(share[1] - want_share[1]) < 1e-12,
                            f"cycle {c}: planner key share {share} != expected {want_share}")
        return ok

    def _check_lake(self, ctx, session, lake, published, probes: int) -> bool:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark = ctx.spark
        expected = session.expected[-1]
        if ctx.corrupt:
            expected = {t: dict(rows) for t, rows in expected.items()}
            k = sorted(expected["tasks"])[0]
            expected["tasks"][k] = {**expected["tasks"][k], "title": "corrupted"}
        ok = True
        for table, (_, key, _, _) in saas.TABLES.items():
            df = spark.read.parquet(str(lake / table))
            cols = [F.date_format(f.name, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias(f.name)
                    if isinstance(f.dataType, T.TimestampType) else F.col(f"`{f.name}`")
                    for f in df.schema.fields]
            got = {r[key]: r.asDict() for r in df.select(*cols).collect()}
            want = expected[table]
            bad = [k for k in want if got.get(k) != want[k]] + [k for k in got if k not in want]
            ok &= ctx.check(not bad, f"{table}: {len(bad)} rows differ from the expected state, "
                                     f"e.g. {bad[:1]}: {got.get(bad[0]) if bad else None} "
                                     f"!= {want.get(bad[0]) if bad else None}")
        row = (spark.read.parquet(str(lake / "tasks")).groupBy(STAT_COL).count()
               .agg(F.sum("count").alias("n"), F.max("count").alias("top")).first())
        live = (int(row["n"]), float(row["top"]) / int(row["n"]))
        ok &= ctx.check(live[0] == published[0] and abs(live[1] - published[1]) < 1e-12,
                        f"published key share {published} != live recount {live}")
        ok &= ctx.check(probes == 0, f"{probes} live statistic probes on the read path")
        n_cycles = session.n_cycles
        for table, per_cycle in saas.BAD_PER_CYCLE.items():
            n = spark.read.parquet(str(lake / "_quarantine" / table)).count()
            ok &= ctx.check(n == per_cycle * n_cycles,
                            f"_quarantine/{table}: {n} rows != {per_cycle * n_cycles} injected")
        return ok

    def _bytes_ratio(self, ctx, lake) -> float:
        """Lake bytes (tables + any statistic sidecars) over the parquet bytes
        of the live rows written once, compacted."""
        spark = ctx.spark
        ref = fresh_dir(ctx.work / "ref")
        stored = 0
        for table in saas.TABLES:
            spark.read.parquet(str(lake / table)).coalesce(1).write.parquet(str(ref / table))
        for p in lake.iterdir():
            if p.name != "_quarantine" and not p.name.startswith("state_"):
                stored += du(p)
        return stored / du(ref)

    # -- metrics ------------------------------------------------------------------

    def e2e(self, m: dict) -> dict:
        return {"full_s": median(m["full"]), "step_p50_s": median(m["step"]),
                "read_p50_s": median(m["read"]), "jobs_per_step": median(m["jobs"]),
                "rows_per_s": m["rows"] / m["land_s"],
                "lake_bytes_per_user_byte": m["bytes_ratio"]}

    def step_times(self, m: dict) -> list[float]:
        return m["step"]

    def layer(self, m: dict, red, roots: list, rows: dict, per) -> dict:
        def wall(name):
            return per(rows.get(name, {}).get("wall_s", 0.0))

        per_cycle = [[s for s in red.subtree(r) if s["name"] == "pipeline.sync_stream"]
                     for r in roots]
        return {
            "rest.extract_s": wall("rest.extract"),
            "rest.pages": per(m["pages"]),
            "rest.rows": per(m["rest_rows"]),
            "pipeline.rows_to_df_s": wall("pipeline.rows_to_df"),
            "pipeline.sync_stream_p50_s": median([red.wall(s) for c in per_cycle for s in c]),
            # the pool waits for its slowest stream
            "pipeline.sync_stream_max_s": median([max(map(red.wall, c)) for c in per_cycle if c]),
            "pipeline.jobs": per(sum(rows.get(n, {}).get("jobs", 0) for n in
                                     ("pipeline.sync_stream", "pipeline.rows_to_df"))),
            "pipeline.driver_gap_s": per(rows.get("pipeline.sync_stream", {}).get(
                "driver_gap_s", 0.0)),
            "pipeline.quarantined_rows": per(m["quarantined"]),
            "transform.plan_s": wall("transform.plan"),
            "upsert.rows_in": per(m["rows_step"]),
            "upsert.rows_changed": per(m["rows_changed"]),
            "state.load_s": wall("state.load"),
            "state.save_s": wall("state.save"),
            "views.materialize_s": wall("views.materialize"),
            "views.query_s": wall("views.query"),
        }


def _views(spark, lake: Path, models, tracer=None) -> dict[str, tuple]:
    """The dbt step: register the landed ``tasks``, materialize the
    reference models, query them; then the planner's read of the key
    share ingest maintains on ``tasks`` (``"share"``)."""
    from pubic_multi_platform_to_postgres_spark.plans.stats import CORPUS_STATS

    path = str(lake / "tasks")
    spark.read.parquet(path).createOrReplaceTempView("tasks")
    models.materialize(spark)
    with maybe_span(tracer, "views.query"):
        rows = spark.sql(VIEW_QUERY).collect()
    out = {r["m"]: (r["n"], float(r["s"] or 0.0)) for r in rows}
    out["share"] = CORPUS_STATS.key_share(spark.read.parquet(path), STAT_COL, source_path=path)
    return out


def _changed(session: saas.SaasSession, c: int) -> int:
    """Landed rows whose content cycle ``c`` created or changed."""
    before = session.expected[c - 1] if c else {t: {} for t in saas.TABLES}
    after = session.expected[c]
    return sum(1 for t in saas.TABLES for k, row in after[t].items() if before[t].get(k) != row)
