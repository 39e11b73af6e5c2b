"""Keyed dedup-upsert sink (K2): the engine's replacement for
``pipelinewise-target-postgres``'s PK upsert.

The reference pipes Singer RECORDs into a loader that upserts on
``key_properties`` — re-delivered rows from the at-least-once bookmark
overlap dedup by primary key (``runner/__init__.py:152-155`` assembles the
pipe; the loader is the pinned external package, ``pyproject.toml:25``).

Engine equivalents:

- :func:`dedup_latest` — within one batch keep the newest row per key
  (``row_number() OVER (PARTITION BY pk ORDER BY rk DESC) = 1``).
- :class:`ParquetUpsertSink` — lake-native keyed merge: new batch wins
  over existing rows on key collision. This is the primary correctness
  path (SURVEY.md §7.2).
- :func:`jdbc_upsert_sql` — the Postgres-parity statement: staging table
  + ``INSERT … ON CONFLICT DO UPDATE``.
- :class:`DbApiUpsertSink` — the statement EXECUTED end-to-end through
  any DB-API connection (sqlite3 in tests — same upsert dialect as
  Postgres; psycopg2 in production), one transaction per batch.
- :class:`JdbcUpsertSink` — the same flow through Spark JDBC for
  parallel staging writes (needs a JDBC driver jar + live server, not in
  this container; the merge statement is shared with the DB-API leg).

Scale: the merge is one shuffle on the key columns (union + window dedup).
On a real lake deployment the same interface maps to Delta/Iceberg
``MERGE INTO``, which prunes untouched files; the parquet fallback
rewrites the table but stays fully distributed (no driver collect). For
100 TB tables, partition the sink path (``partition_by``) so a batch only
rewrites partitions it touches.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# One lock per sink path: Pipeline.run syncs streams on a thread pool, and two
# specs whose transforms emit the same output table would otherwise interleave
# read/swap and drop each other's rows. Process-local by design — local/driver
# mode has exactly one writer process; a multi-writer lake deployment maps this
# sink to Delta/Iceberg MERGE whose commit protocol supplies the coordination.
_PATH_LOCKS: dict[str, threading.Lock] = {}
_PATH_LOCKS_GUARD = threading.Lock()


def _path_lock(path: Path) -> threading.Lock:
    key = str(Path(path).resolve())
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(key, threading.Lock())


# footer key under which Spark's parquet writer records the row schema
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: Path) -> StructType | None:
    """The schema Spark's schema inference would give the unpartitioned
    parquet table at ``path``, read on the driver from one part file's
    footer (Spark's own row-metadata key) instead of by an inference job.

    Inference without ``mergeSchema`` also reads a single footer and
    prefers this key, so the two agree whenever every part file carries
    the same schema — true of a table written by one job, as every sink
    write is. ``None`` (caller falls back to inference) for a directory
    holding subdirectories (partition columns come from their names), a
    part file without the key, or any read error. Nullability needs no
    care: a file source reads every column as nullable, given schema or
    inferred.
    """
    try:
        import pyarrow.parquet as pq

        entries = [e for e in os.scandir(path) if not e.name.startswith(("_", "."))]
        part = next((e.path for e in entries if e.name.endswith(".parquet")), None)
        if part is None or any(e.is_dir() for e in entries):
            return None
        blob = pq.read_metadata(part).metadata.get(SPARK_ROW_METADATA)
        return None if blob is None else StructType.fromJson(json.loads(blob))
    except Exception:  # noqa: BLE001 — unreadable footer == infer instead
        return None


def dedup_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Keep one row per key: the latest by ``order_col`` (NULLs last), or
    an arbitrary-but-deterministic row when no order column exists.

    ``_batch_seq`` (if present, added by the sink) breaks ties so that
    later-delivered rows win — matching the loader's last-write-wins.
    """
    order = []
    if order_col:
        order.append(F.col(order_col).desc_nulls_last())
    if "_batch_seq" in df.columns:
        order.append(F.col("_batch_seq").desc())
    if not order:
        order.append(F.lit(1))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class ParquetUpsertSink:
    """Idempotent keyed upsert into a parquet table directory.

    ``write(df)``: new rows replace existing rows with the same key;
    within the batch the latest by ``order_col`` wins. Applying the same
    batch twice is a no-op (the property the reference's run-time
    bookmarks depend on).

    ``clone_stat_col`` (VERDICT r13 Next #1) turns on maintained
    clone statistics for that text column: every landing cycle folds the
    rows that actually changed the corpus — the batch rows that WON the
    PK dedup, minus the existing rows they replaced, so at-least-once
    redelivery and content re-sends stay exact — into an on-disk
    ``CloneHistogram`` beside the table, then publishes its
    ``(n_rows, clique_pairs)`` summary to the stats registry under this
    table's path. The dedup planner (``operators/dedup.py
    collapse_strategy`` via ``StatsRegistry.clone_summary``) then reads
    the statistic for free — ingest maintains it; no query ever pays the
    full-corpus probe. Crash consistency: the histogram is a CACHE keyed
    by the table fingerprint (meta sidecar written only after both swaps
    land); any torn state is detected as stale on the next landing and
    re-bootstrapped from the landed table — one recovery scan, never a
    wrong statistic.

    ``key_stat_cols`` (r15, VERDICT r14 Next #5) is the symmetric
    maintenance for JOIN-KEY skew: each named column gets an on-disk
    ``KeyHistogram`` folded the same delta way and a published
    ``keyshare:<col>`` ``(n_rows, top_share)``, so the as-of route
    (``operators/asof.py asof_route``) can derive its union statistic
    from two landed tables with ZERO live probes
    (``plans/stats.py union_key_share``). All maintained histograms
    share one crash contract and one replaced-rows retraction join —
    null-safe per key (ADVICE r14: the window dedup groups NULL keys,
    so a null-rejecting semi-join would silently leak retractions).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str | Path,
        keys: list[str],
        order_col: str | None = None,
        partition_by: list[str] | None = None,
        clone_stat_col: str | None = None,
        key_stat_cols: list[str] | None = None,
        stats_registry=None,
    ) -> None:
        if not keys:
            raise ValueError("upsert requires at least one key column")
        self.spark = spark
        self.path = Path(path)
        self.keys = keys
        self.order_col = order_col
        self.partition_by = partition_by or []
        self.clone_stat_col = clone_stat_col
        self.key_stat_cols = key_stat_cols or []
        if stats_registry is None and (
            clone_stat_col is not None or self.key_stat_cols
        ):
            from pubic_multi_platform_to_postgres_spark.plans.stats import (
                CORPUS_STATS,
            )

            stats_registry = CORPUS_STATS
        self.stats_registry = stats_registry

    @property
    def _hist_path(self) -> Path:
        # leading underscore: identity-neutral to source_fingerprint, so
        # the statistic table never invalidates the statistic about the
        # data table it sits beside
        return self.path.with_name(f"_stats_{self.path.name}_clonehist")

    def read(self) -> DataFrame | None:
        """The landed table, or ``None`` before the first write. An
        unpartitioned table opens with its footer schema and launches no
        Spark job; a partitioned one (or a footer without Spark's schema
        key) pays the inference job."""
        if not self.path.exists():
            return None
        schema = None if self.partition_by else footer_schema(self.path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(str(self.path))

    def write(self, batch: DataFrame) -> None:
        # Serialize the whole read→merge→swap per sink path: concurrent
        # writers (Pipeline's stream thread pool) would otherwise race the
        # read against another writer's swap and drop rows.
        with _path_lock(self.path):
            self._write_locked(batch)

    @staticmethod
    def _merge_evolved(batch: DataFrame, existing: DataFrame) -> DataFrame:
        """Union batch over existing with schema-evolution semantics: a
        column NEW in the batch is added (NULL on old rows); a column the
        batch DROPPED is kept (NULL on new rows). Neither crashes the sync
        nor silently destroys landed history — the catalog-change behavior
        a Singer landing needs. ``_batch_seq`` marks batch rows as winners."""
        evolved = list(batch.columns) + [
            c for c in existing.columns if c not in batch.columns
        ]

        def align(df: DataFrame, other: DataFrame) -> DataFrame:
            return df.select(*[
                F.col(c) if c in df.columns
                else F.lit(None).cast(other.schema[c].dataType).alias(c)
                for c in evolved
            ])

        new = align(batch, existing).withColumn("_batch_seq", F.lit(1))
        old = align(existing, batch).withColumn("_batch_seq", F.lit(0))
        return new.unionByName(old)

    def _write_locked(self, batch: DataFrame) -> None:
        # batch rows outrank existing rows; within the batch, order_col then
        # delivery order decides (Singer loaders apply records in order)
        existing = self.read()
        if existing is not None:
            merged = self._merge_evolved(batch, existing)
        else:
            merged = batch.withColumn("_batch_seq", F.lit(1))
        tagged = dedup_latest(merged, self.keys, self.order_col)
        result = tagged.drop("_batch_seq")
        # Fold the landing's statistic deltas and WRITE them to staging
        # dirs before the table swap (the folds read the pre-swap
        # files); activated only after the swap succeeds. A failed swap
        # removes the stagings (ADVICE r14: they used to orphan).
        folds = self._fold_stats(tagged, existing)
        try:
            self._swap_in(result)
        except BaseException:
            for _, _, _, staging in folds:
                shutil.rmtree(staging, ignore_errors=True)
            raise
        self._publish_stats(folds)

    def _stat_plans(self) -> list[tuple]:
        """(histogram class, column, on-disk path) per maintained
        statistic: the clone histogram plus one key histogram per
        configured join-key column."""
        from pubic_multi_platform_to_postgres_spark.plans.stats import (
            CloneHistogram,
            KeyHistogram,
            key_hist_path,
        )

        plans: list[tuple] = []
        if self.clone_stat_col is not None:
            plans.append((CloneHistogram, self.clone_stat_col, self._hist_path))
        at = key_hist_path(self.path)
        for c in self.key_stat_cols:
            plans.append((KeyHistogram, c, at(c)))
        return plans

    def _fold_stats(
        self, tagged: DataFrame, existing: DataFrame | None
    ) -> list[tuple]:
        """Maintain every configured histogram for this landing: +1 the
        batch rows that won the PK dedup (``_batch_seq == 1`` — folding
        the raw batch would double-count rows the dedup dropped), −1
        the existing rows those winners replaced — joined NULL-SAFE per
        key (ADVICE r14: ``dedup_latest``'s window groups NULL keys, so
        a null-rejecting semi-join would rewrite such rows without ever
        retracting them and the statistic would silently drift). Net
        effect: redelivered-identical rows cancel; re-sent content
        moves mass between classes; genuinely new rows add mass.
        Returns ``(cls, col, hist_path, staging)`` per fold, each
        staging materialized NOW while the pre-swap files still exist;
        a statistic whose column is absent even after the merge is
        skipped (nothing to maintain yet)."""
        from pubic_multi_platform_to_postgres_spark.plans.stats import (
            hist_meta_stamp,
            jsonable_fp,
            source_fingerprint,
        )

        plans = [p for p in self._stat_plans() if p[1] in tagged.columns]
        if not plans:
            return []
        fp_now = jsonable_fp(source_fingerprint(str(self.path)))
        winners = tagged.filter(F.col("_batch_seq") == 1)
        replaced = None
        if existing is not None:
            wk = winners.select(*[
                F.col(k).alias(f"__stat_k{i}") for i, k in enumerate(self.keys)
            ]).distinct()
            cond = F.lit(True)
            for i, k in enumerate(self.keys):
                cond = cond & existing[k].eqNullSafe(wk[f"__stat_k{i}"])
            replaced = existing.join(wk, cond, "left_semi")

        folds = []
        for cls, col, hist_path in plans:
            hist = None
            ex = existing
            rep = replaced
            if ex is not None:
                # a landed row predating this column (schema evolution)
                # is a NULL-content row in the merged table — fold it as
                # such so the maintained table matches a live probe
                if col not in ex.columns:
                    typed_null = F.lit(None).cast(tagged.schema[col].dataType)
                    ex = ex.withColumn(col, typed_null)
                    rep = rep.withColumn(col, typed_null)
                # reuse the maintained table only if it matches the
                # CURRENT landed snapshot (meta written post-swap last
                # cycle); torn/missing state re-bootstraps from the table
                if hist_meta_stamp(hist_path) == fp_now:
                    hist = cls.load(self.spark, str(hist_path))
                if hist is None:
                    hist = cls().merge_batch(ex, col)
            else:
                hist = cls()
            hist.merge_batch(winners, col)
            if rep is not None:
                hist.merge_batch(rep, col, weight=-1)
            staging = hist_path.with_name(
                f"{hist_path.name}__staging_{uuid.uuid4().hex[:8]}"
            )
            base = (
                hist.hist
                if hist.hist is not None
                else self.spark.createDataFrame([], cls.SCHEMA)
            )
            base.write.mode("overwrite").parquet(str(staging))
            folds.append((cls, col, hist_path, staging))
        return folds

    def _publish_stats(self, folds: list[tuple]) -> None:
        """Post-swap half: move each folded histogram into place, stamp
        it with the NEW table fingerprint, and publish the summary so
        planner reads are free. A crash anywhere in here leaves meta ≠
        table fingerprint → next landing re-bootstraps."""
        import json

        from pubic_multi_platform_to_postgres_spark.plans.stats import (
            jsonable_fp,
            source_fingerprint,
        )

        if not folds:
            return
        fp = source_fingerprint(str(self.path))
        for cls, col, hist_path, staging in folds:
            old = hist_path.with_name(
                f"{hist_path.name}__old_{uuid.uuid4().hex[:8]}"
            )
            had_old = hist_path.exists()
            if had_old:
                hist_path.rename(old)
            staging.rename(hist_path)
            if had_old:
                shutil.rmtree(old)
            hist_path.with_name(f"{hist_path.name}.meta.json").write_text(
                json.dumps({"fingerprint": jsonable_fp(fp)})
            )
            hist = cls.load(self.spark, str(hist_path))
            if self.stats_registry is not None and fp is not None:
                hist.publish(
                    self.stats_registry, str(self.path), col, fingerprint=fp
                )

    def _swap_in(self, result: DataFrame) -> None:
        tmp = self.path.with_name(f"{self.path.name}__staging_{uuid.uuid4().hex[:8]}")
        writer = result.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(str(tmp))
        # Crash-safe swap (parquet can't overwrite its own input in one job):
        # move the old table ASIDE (rename, not rmtree) so a failure between
        # the two renames still leaves a complete copy; restore it if the
        # final rename fails.
        old = self.path.with_name(f"{self.path.name}__old_{uuid.uuid4().hex[:8]}")
        had_old = self.path.exists()
        if had_old:
            self.path.rename(old)
        try:
            tmp.rename(self.path)
        except BaseException:
            if had_old and not self.path.exists():
                old.rename(self.path)  # roll back: the previous table wins
            raise
        if had_old:
            shutil.rmtree(old)


def jdbc_upsert_sql(
    table: str,
    staging_table: str,
    columns: list[str],
    keys: list[str],
) -> str:
    """Postgres-parity upsert statement (the SQL the JDBC path executes
    after loading the deduped batch into ``staging_table``).

    Mirrors the external loader's behavior: insert-or-update on the PK,
    non-key columns overwritten from the staged batch. The ``WHERE true``
    disambiguates the upsert clause after ``INSERT … SELECT`` (required
    by SQLite's parser, harmless on Postgres).
    """
    non_keys = [c for c in columns if c not in keys]
    cols = ", ".join(f'"{c}"' for c in columns)
    conflict = ", ".join(f'"{k}"' for k in keys)
    updates = ", ".join(f'"{c}" = EXCLUDED."{c}"' for c in non_keys)
    action = f"DO UPDATE SET {updates}" if non_keys else "DO NOTHING"
    return (
        f'INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging_table} '
        f"WHERE true ON CONFLICT ({conflict}) {action}"
    )


class JdbcUpsertSink:
    """Same writer interface against Postgres via JDBC.

    Flow: ``dedup_latest`` the batch → ``df.write.jdbc`` into a staging
    table → execute :func:`jdbc_upsert_sql` → drop staging. Requires the
    Postgres JDBC driver on the Spark classpath and a reachable server —
    neither exists in this container, so construction succeeds (for
    pipeline wiring/tests) but ``write`` raises until configured.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        keys: list[str],
        order_col: str | None = None,
        properties: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.url = url
        self.table = table
        self.keys = keys
        self.order_col = order_col
        self.properties = properties or {}

    def write(self, batch: DataFrame) -> None:
        deduped = dedup_latest(batch, self.keys, self.order_col)
        staging = f"{self.table}__staging"
        deduped.write.jdbc(self.url, staging, mode="overwrite", properties=self.properties)
        sql = jdbc_upsert_sql(self.table, staging, deduped.columns, self.keys)
        # execute via the JVM DriverManager (no Python pg driver in-container)
        jvm = self.spark._sc._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(
            self.url, self.properties.get("user", ""), self.properties.get("password", "")
        )
        try:
            stmt = conn.createStatement()
            stmt.executeUpdate(sql)
            stmt.executeUpdate(f"DROP TABLE IF EXISTS {staging}")
        finally:
            conn.close()


_SQL_TYPES = {
    "string": "TEXT",
    "long": "BIGINT",
    "integer": "INTEGER",
    "short": "INTEGER",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


class DbApiUpsertSink:
    """Keyed upsert through any DB-API 2.0 connection — the executable
    database leg of K2 (reference ``runner/__init__.py:152-155``: Singer
    records piped into ``target-postgres``'s PK upsert).

    Shares the EXACT statement and flow with :class:`JdbcUpsertSink`:
    Spark-side ``dedup_latest`` → load the deduped batch into a staging
    table → one :func:`jdbc_upsert_sql` ``INSERT … ON CONFLICT DO
    UPDATE`` → drop staging, all inside ONE transaction (a crash mid-load
    rolls back; re-running the batch is idempotent by PK). Works against
    anything speaking DB-API with ``ON CONFLICT`` semantics — stdlib
    ``sqlite3`` and DuckDB in tests (DuckDB implements the PostgreSQL
    ``ON CONFLICT``/``EXCLUDED`` grammar, so the generated dialect is
    execution-verified on a second engine; the exact statements are also
    golden-pinned in ``test_jdbc_upsert_sql_golden_postgres_dialect``),
    ``psycopg2`` against a real Postgres.

    Scale: rows stream to the driver via ``toLocalIterator`` in
    ``executemany`` chunks — right for dimension-sized sinks and for
    proving semantics; a 100 TB fact landing uses ``JdbcUpsertSink``
    where executors write the staging table in parallel and only the
    merge statement runs on one connection.
    """

    def __init__(
        self,
        connect,  # Callable[[], Connection]
        table: str,
        keys: list[str],
        order_col: str | None = None,
        batch_size: int = 1000,
    ) -> None:
        if not keys:
            raise ValueError("upsert requires at least one key column")
        self.connect = connect
        self.table = table
        self.keys = keys
        self.order_col = order_col
        self.batch_size = batch_size

    def _ddl(self, df: DataFrame, table: str, with_pk: bool) -> str:
        cols = ", ".join(
            f'"{f.name}" {_SQL_TYPES.get(f.dataType.typeName(), "TEXT")}'
            for f in df.schema.fields
        )
        pk = f', PRIMARY KEY ({", ".join(self.keys)})' if with_pk else ""
        return f"CREATE TABLE IF NOT EXISTS {table} ({cols}{pk})"

    def write(self, batch: DataFrame) -> None:
        deduped = dedup_latest(batch, self.keys, self.order_col)
        cols = deduped.columns
        staging = f"{self.table}__staging"
        placeholders = ", ".join(["?"] * len(cols))
        conn = self.connect()
        try:
            cur = conn.cursor()
            cur.execute(self._ddl(deduped, self.table, with_pk=True))
            cur.execute(f"DROP TABLE IF EXISTS {staging}")
            cur.execute(self._ddl(deduped, staging, with_pk=False))
            chunk: list[tuple] = []
            for row in deduped.toLocalIterator():
                chunk.append(tuple(row[c] for c in cols))
                if len(chunk) >= self.batch_size:
                    cur.executemany(
                        f"INSERT INTO {staging} VALUES ({placeholders})", chunk
                    )
                    chunk = []
            if chunk:
                cur.executemany(
                    f"INSERT INTO {staging} VALUES ({placeholders})", chunk
                )
            cur.execute(jdbc_upsert_sql(self.table, staging, cols, self.keys))
            cur.execute(f"DROP TABLE IF EXISTS {staging}")
            conn.commit()
        except BaseException:
            conn.rollback()
            # best-effort staging cleanup: some drivers (sqlite3's legacy
            # transaction mode) auto-commit around DDL, so the staging
            # table can survive the rollback — never leave debris behind
            try:
                conn.cursor().execute(f"DROP TABLE IF EXISTS {staging}")
                conn.commit()
            except Exception:
                pass
            raise
        finally:
            conn.close()


class ParquetVersionedSink(ParquetUpsertSink):
    """Keyed upsert with SNAPSHOT VERSIONS and time travel — the
    Delta-style commit protocol scaled down to a directory layout:

    - data lives in immutable ``<path>/v=<n>/`` version directories;
    - ``<path>/_latest`` holds the committed version number, replaced
      atomically (tmp + ``os.replace``) as the LAST step of a write — a
      crash before the pointer swap leaves only an orphan directory,
      never a broken table;
    - readers resolve the pointer once and then read an immutable
      snapshot: concurrent writers never disturb a running query
      (snapshot isolation), and ``read(version=k)`` time-travels;
    - ``vacuum(keep_last)`` deletes unpointed old versions (the
      retention step a lakehouse runs out-of-band).

    Inherits the per-path writer lock; merge semantics are the same
    keyed last-write-wins as the base sink.
    """

    def _latest_path(self) -> Path:
        return self.path / "_latest"

    def current_version(self) -> int | None:
        p = self._latest_path()
        if not p.exists():
            return None
        return int(p.read_text().strip())

    def versions(self) -> list[int]:
        if not self.path.exists():
            return []
        return sorted(
            int(d.name.split("=", 1)[1])
            for d in self.path.iterdir()
            if d.is_dir() and d.name.startswith("v=")
        )

    def read(self, version: int | None = None) -> DataFrame | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        return self.spark.read.parquet(str(self.path / f"v={v}"))

    def _write_locked(self, batch: DataFrame) -> None:
        existing = self.read()
        if existing is not None:
            # same schema-evolution union semantics as the base sink
            merged = self._merge_evolved(batch, existing)
        else:
            merged = batch.withColumn("_batch_seq", F.lit(1))
        result = dedup_latest(merged, self.keys, self.order_col).drop("_batch_seq")

        next_v = (self.current_version() or 0) + 1
        result.write.mode("overwrite").parquet(str(self.path / f"v={next_v}"))
        # commit = atomic pointer replace; everything before is invisible
        tmp = self._latest_path().with_suffix(".tmp")
        tmp.write_text(str(next_v))
        os.replace(tmp, self._latest_path())

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (never the
        pointed one). Returns the versions removed."""
        with _path_lock(self.path):
            current = self.current_version()
            keep = set(self.versions()[-keep_last:])
            if current is not None:
                keep.add(current)
            removed = []
            for v in self.versions():
                if v not in keep:
                    shutil.rmtree(self.path / f"v={v}")
                    removed.append(v)
            return removed


def atomic_swap(spark: SparkSession, path: str | Path, df: DataFrame) -> None:
    """Replace the parquet directory at ``path`` with ``df``'s contents
    using the crash-safe staging swap, under the per-path writer lock —
    the primitive maintenance jobs (compaction, re-clustering) share
    with the sinks."""
    sink = ParquetUpsertSink(spark, path, keys=["_swap_only"])
    with _path_lock(sink.path):
        sink._swap_in(df)
