"""Sync pipeline + orchestrator: the reference's ELT loop, Spark-first.

Reproduces (SURVEY.md §2.6, §3.1):

- **O1** sequential pipeline loop: pipelines run in listed order, then the
  view layer materializes (dbt analog), then sleep ``interval`` and repeat
  (``scheduler.py:158-225``).
- **O2** intra-pipeline stream concurrency: all selected streams of one
  source sync concurrently (reference uses ``asyncio.gather``,
  ``internal.py:127-164``; here a thread pool — extraction is I/O-bound
  driver-side work, and each stream's Spark jobs submit concurrently under
  the scheduler's FAIR pools).
- **O6** failure isolation: a failed stream/pipeline is recorded and the
  sequence continues (``scheduler.py:191-196``).
- **K3/§2.7** bookmark contract: bookmark ← *run start time* by default
  (NOT max observed ts — correctness comes from at-least-once + PK upsert),
  ``max(date_key, old)`` for analytics-style streams.

Extraction itself is driver-side (REST cursors are sequential; see
``sources/rest.py``); rows are staged once per stream as JSON lines under
``<sink_root>/_staging/<pipeline>/`` and every transform from there on is
columnar. At 100 TB the REST path is never the hot path — file/lake
sources are — but the orchestration contract (bookmarks, upsert
idempotency, isolation) is identical for both.
"""

from __future__ import annotations

import json
import shutil
import time
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubic_multi_platform_to_postgres_spark.operators.upsert import ParquetUpsertSink
from pubic_multi_platform_to_postgres_spark.plans.catalog import Catalog, Stream
from pubic_multi_platform_to_postgres_spark.sources.state import (
    BookmarkManager,
    filter_newer,
    format_date,
)

Row = dict[str, Any]
# extract(bookmark) -> raw JSON rows
ExtractFn = Callable[[str | None], Iterable[Row]]
# transform(raw_df) -> {table_name: DataFrame} (main stream + sub-streams)
TransformFn = Callable[[DataFrame], dict[str, DataFrame]]


@dataclass
class StreamSpec:
    """Binds one catalog stream to its extraction + transform plan."""

    stream: Stream
    extract: ExtractFn
    transform: TransformFn | None = None
    # "run_start" (§2.7 default) | "max_key" (analytics) | None (full table)
    bookmark_mode: str | None = "run_start"
    client_filter: bool = False  # F3-style client-side bookmark filter
    # text column whose clone statistic ingest maintains (r14): each
    # landed batch folds into the sink's on-disk CloneHistogram and the
    # summary publishes to the stats registry — the dedup planner's
    # input becomes catalog state no query ever re-probes
    clone_stat_col: str | None = None
    # join-key columns whose skew statistic ingest maintains (r15):
    # per-key count histograms beside the table + a published
    # keyshare:<col>, feeding the as-of route's zero-probe path
    key_stat_cols: list[str] | None = None


@dataclass
class SyncReport:
    stream: str
    tables: dict[str, int] = field(default_factory=dict)
    quarantined: dict[str, int] = field(default_factory=dict)
    bookmark: str | None = None
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None


def rows_to_df(
    spark: SparkSession, rows: list[Row], stream: Stream, staging: Path
) -> DataFrame:
    """Raw JSON rows → DataFrame.

    Non-empty batches are written as JSON lines to ``staging`` and parsed
    by ``spark.read.json`` so nested objects arrive as structs/arrays ready
    for the columnar flatten/unnest operators. Same datasource and schema
    inference as parsing an RDD of strings, but every scan of the batch is
    a JVM file scan instead of a Python worker feeding the driver's list
    back in. An object or array that inference widens to a string keeps
    its staged text (``spark.sql.json.enableExactStringParsing`` applies to
    byte input only) where the RDD parse re-serialized it; the lines are
    written compact and unescaped (UTF-8, not ``\\uXXXX``) so that text
    matches the re-serialized form. The frame reads ``staging`` lazily: the
    caller deletes the file once every consumer has run. Empty batches
    return an empty frame with the declared stream schema (so downstream
    projection still resolves) and write nothing.
    """
    if not rows:
        return spark.createDataFrame([], stream.schema)
    staging.parent.mkdir(parents=True, exist_ok=True)
    with open(staging, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":"), ensure_ascii=False) + "\n")
    return spark.read.json(str(staging))


class Pipeline:
    """One source system: a catalog of streams + a sink root directory."""

    def __init__(
        self,
        name: str,
        catalog: Catalog,
        specs: list[StreamSpec],
        sink_root: str | Path,
        state_path: str | Path | None = None,
    ) -> None:
        self.name = name
        self.catalog = catalog
        self.specs = specs
        self.sink_root = Path(sink_root)
        self.state_path = Path(state_path) if state_path else self.sink_root / f"state_{name}.json"
        # this pipeline's raw-batch staging files (see rows_to_df)
        self.staging_dir = self.sink_root / "_staging" / name

    # -- one stream ---------------------------------------------------------

    def sync_stream(
        self,
        spark: SparkSession,
        spec: StreamSpec,
        bookmarks: BookmarkManager,
        run_start: datetime,
        full_sync: bool = False,
    ) -> SyncReport:
        name = spec.stream.name
        report = SyncReport(stream=name)
        # full_sync = the reference's `--full_sync` backfill flag
        # (runner/__init__.py:137-141: the runner simply omits --state):
        # stored bookmarks are ignored for extraction AND for the max-key
        # merge below, then rewritten per the normal §2.7 contract.
        bookmark = (
            bookmarks.get(name) if spec.bookmark_mode and not full_sync else None
        )

        staging = self.staging_dir / f"{name}.jsonl"
        try:
            rows = list(spec.extract(bookmark))
            raw = rows_to_df(spark, rows, spec.stream, staging)
            outputs = spec.transform(raw) if spec.transform else {name: raw}
            for table, df in outputs.items():
                n, n_bad = self._land_table(spark, spec, table, df, bookmark, run_start)
                report.tables[table] = n - n_bad
                if n_bad:
                    report.quarantined[table] = n_bad
        finally:
            staging.unlink(missing_ok=True)

        if spec.bookmark_mode == "run_start":
            report.bookmark = format_date(run_start)
        elif spec.bookmark_mode == "max_key":
            observed = [str(r.get(spec.stream.replication_key)) for r in rows
                        if r.get(spec.stream.replication_key) is not None]
            old = None if full_sync else bookmarks.get(name)
            report.bookmark = max(observed + ([old] if old else [])) if (observed or old) else None
        return report

    def _land_table(
        self,
        spark: SparkSession,
        spec: StreamSpec,
        table: str,
        df: DataFrame,
        bookmark: str | None,
        run_start: datetime,
    ) -> tuple[int, int]:
        """Land one output table of a stream; returns ``(rows in the
        batch, rows quarantined)``."""
        stream = self.catalog.get(table) if table in self.catalog else spec.stream
        if spec.client_filter and stream.replication_key in df.columns:
            df = filter_newer(df, stream.replication_key, bookmark)
        # The batch lineage (staged JSON scan → flatten/unnest → filter)
        # has two consumers below: one aggregate that counts the batch and
        # its quarantine rejects together, and the sink merge (plus the
        # reject write when there are rejects). Cache it once — a sync
        # batch is bounded by the extraction page budget, never
        # corpus-sized.
        df = cached = df.persist()
        # try/finally opens IMMEDIATELY after persist(): the quarantine
        # probe and typed projection below can throw (caught per-stream by
        # the runner, which keeps going), and an unpersist scoped only
        # around the sink write would leak the cached batch for the rest
        # of the application (ADVICE r7).
        try:
            # Typed schema projection (P4): land EXACTLY the declared
            # catalog schema — every declared column, cast to its declared
            # type, missing ones as typed NULLs. The raw parse is
            # inference-based (transforms consume undeclared nested
            # fields, so the declared post-flatten schema can't be applied
            # at read.json time), and inferred types drift run-to-run
            # (all-null field, numeric-looking strings); casting here pins
            # the landed types so the upsert sink's unionByName never sees
            # two cycles disagree.
            #
            # Dead-letter contract: a row whose non-null value fails its
            # declared cast (try_cast → NULL) goes to _quarantine/<table>
            # as raw JSON instead of crashing the sync (ANSI cast throws)
            # or silently nulling the value — the loader's skip-and-log
            # behavior, but with the rejects queryable.
            present = [c for c in stream.columns() if c in df.columns]
            bad = F.lit(False)
            for f in stream.schema.fields:
                # full dataType equality, not class identity: a same-class
                # mismatch (decimal precision drift, struct/array element
                # types) must also route through the quarantine check or
                # the try_cast projection below silently nulls it
                if f.name in df.columns and df.schema[f.name].dataType != f.dataType:
                    src = F.col(f.name)
                    bad = bad | (src.isNotNull() & src.try_cast(f.dataType).isNull())
            # one job counts the batch and its rejects (and fills the cache)
            n, n_bad = df.agg(F.count(F.lit(1)), F.count_if(bad)).first()
            if n_bad:
                (
                    df.filter(bad).select(
                        F.to_json(F.struct(*df.columns)).alias("raw"),
                        F.lit(table).alias("_table"),
                        F.lit(format_date(run_start)).alias("_run_start"),
                    )
                    .write.mode("append")
                    .parquet(str(self.sink_root / "_quarantine" / table))
                )
                df = df.filter(~bad)
            if present:
                df = df.select(*[
                    (F.col(f.name).try_cast(f.dataType) if f.name in df.columns
                     else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in stream.schema.fields
                ])
            keys = stream.key_properties or stream.columns()[:1]
            # stat columns pass through UNCONDITIONALLY (ADVICE
            # r14): the sink's own fold handles an absent column —
            # a column-less batch still folds typed NULLs via the
            # evolved merge, so the meta stamp stays fresh instead
            # of forcing a full re-bootstrap scan next landing
            sink = ParquetUpsertSink(
                spark, self.sink_root / table, keys,
                order_col=stream.replication_key
                if stream.replication_key in df.columns else None,
                clone_stat_col=spec.clone_stat_col,
                key_stat_cols=spec.key_stat_cols,
            )
            sink.write(df)
            return n, n_bad
        finally:
            cached.unpersist()

    # -- one pipeline run (O2 concurrency + O6 isolation) -------------------

    def run(
        self,
        spark: SparkSession,
        max_workers: int = 8,
        full_sync: bool = False,
    ) -> list[SyncReport]:
        """One sync round. ``full_sync=True`` is the backfill mode: stored
        bookmarks are ignored (every stream extracts from scratch) and then
        rewritten to run-start per §2.7 — the reference runner's
        ``--full_sync``, which skips ``--state`` (runner/__init__.py:137-141).
        Idempotent by the sink's PK upsert."""
        bookmarks = BookmarkManager.load(self.state_path)
        run_start = datetime.now(timezone.utc)
        # staging files a killed run left behind (this pipeline's only)
        shutil.rmtree(self.staging_dir, ignore_errors=True)

        def _one(spec: StreamSpec) -> SyncReport:
            try:
                return self.sync_stream(spark, spec, bookmarks, run_start, full_sync)
            except Exception as exc:  # noqa: BLE001 — O6: isolate, record, continue
                return SyncReport(stream=spec.stream.name, error=f"{type(exc).__name__}: {exc}")

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            reports = list(pool.map(_one, self.specs))

        # merge bookmarks only for successful streams (internal.py:167-170)
        bookmarks.merge(
            {r.stream: r.bookmark for r in reports if r.ok and r.bookmark is not None}
        )
        self.sink_root.mkdir(parents=True, exist_ok=True)
        bookmarks.save(self.state_path)
        return reports


def run_sequence(
    spark: SparkSession,
    pipelines: list[Pipeline],
    cycles: int = 1,
    interval: float = 300.0,
    after_cycle: Callable[[SparkSession], Any] | None = None,
    sleep: Callable[[float], None] = time.sleep,
    full_sync: bool = False,
) -> Iterator[dict[str, list[SyncReport]]]:
    """O1 — the scheduler loop: pipelines in order, then the view layer
    (``after_cycle`` ≈ ``dbt run``), then sleep ``interval``; a failed
    pipeline is recorded and the sequence continues. Yields per-cycle
    ``{pipeline_name: reports}`` so callers can stream progress.
    ``full_sync`` applies the backfill mode to the FIRST cycle only —
    subsequent cycles resume incrementally from the rewritten bookmarks
    (re-running the flag forever would re-extract the world every cycle)."""
    for cycle in range(cycles):
        results: dict[str, list[SyncReport]] = {}
        for pipe in pipelines:
            try:
                results[pipe.name] = pipe.run(spark, full_sync=full_sync and cycle == 0)
            except Exception as exc:  # noqa: BLE001 — O6 at pipeline granularity
                results[pipe.name] = [
                    SyncReport(stream="<pipeline>", error=f"{type(exc).__name__}: {exc}")
                ]
        if after_cycle is not None:
            after_cycle(spark)
        yield results
        if cycle < cycles - 1:
            sleep(interval)
