"""Extraction-source tests: pagination scans, throttle/retry/auth, and the
end-to-end sync pipeline (mock API → flatten/unnest → keyed upsert →
bookmarks), including the idempotency property the reference's run-time
bookmark contract depends on (SURVEY.md §5 test strategy #2/#3)."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from pubic_multi_platform_to_postgres_spark.operators.flatten import flatten
from pubic_multi_platform_to_postgres_spark.operators.unnest import split_substream
from pubic_multi_platform_to_postgres_spark.plans.catalog import Catalog
from pubic_multi_platform_to_postgres_spark.sources.auth import OAuth2RefreshAuth
from pubic_multi_platform_to_postgres_spark.sources.pipeline import (
    Pipeline,
    StreamSpec,
    rows_to_df,
    run_sequence,
)
from pubic_multi_platform_to_postgres_spark.sources.rest import (
    Fetcher,
    RateLimiter,
    RetryPolicy,
    scan_analytics,
    scan_cursor,
    scan_full,
    scan_keyed,
    scan_numbered,
    scan_token,
    scan_windowed,
    year_windows,
)


class MockTransport:
    """Canned-response transport; records every request."""

    def __init__(self, responses):
        # responses: callable(url, params, headers) -> Any, or dict url->Any
        self.responses = responses
        self.calls: list[tuple[str, dict | None, dict | None]] = []
        self.posts: list[tuple[str, dict | None]] = []

    def get(self, url, params=None, headers=None):
        self.calls.append((url, dict(params) if params else None, headers))
        if callable(self.responses):
            return self.responses(url, params or {}, headers or {})
        return self.responses[url]

    def post(self, url, data=None, headers=None):
        self.posts.append((url, data))
        return self.responses(url, data or {}, headers or {})


def fetcher(responses) -> Fetcher:
    return Fetcher(transport=MockTransport(responses), retry=RetryPolicy(sleep=lambda s: None))


# ---------------------------------------------------------------------------
# Pagination scans


def test_recorded_transport_replays_fifo_and_raises_when_exhausted():
    """RecordedTransport: pages replay per-path in order; an exhausted
    recording raises (a scan over-requesting pages is a pagination bug,
    not an empty page); the source lists are never mutated."""
    from pubic_multi_platform_to_postgres_spark.sources.rest import RecordedTransport

    recording = {"tasks": [{"data": [1]}, {"data": [2]}]}
    t = RecordedTransport(recording)
    assert t.get("tasks") == {"data": [1]}
    assert t.get("tasks", {"nextPageToken": "x"}) == {"data": [2]}
    with pytest.raises(KeyError):
        t.get("tasks")
    with pytest.raises(KeyError):
        t.get("unknown")
    assert len(recording["tasks"]) == 2  # defensive copy
    assert t.calls[1] == ("tasks", {"nextPageToken": "x"})


def test_elt_end_to_end_land_golden(spark):
    """The promoted integration gate row: recorded 2-cycle session →
    real scan/flatten/unnest/upsert pipeline → landed lake matches the
    hand-computed golden rows (redelivery dedup + newer-version
    overwrite + surrogate keys + projection drop all visible)."""
    from pubic_multi_platform_to_postgres_spark.queries import REGISTRY

    out = {(r["tbl"], r["id"]): r["info"]
           for r in REGISTRY["elt_end_to_end_land"].fn(spark, "unused").collect()}
    assert out == {
        ("tasks", "t1"): "Proposal alpha|Active|2024-01-01|2024-01-01T00:00:00.000Z",
        ("tasks", "t2"): "Quote beta v2|Completed|2024-01-05|2024-01-10T00:00:00.000Z",
        ("tasks", "t3"): "Proposal gamma|Completed|2024-01-06|2024-01-03T00:00:00.000Z",
        ("tasks", "t4"): "Proposal delta|Active|2024-01-09|2024-01-09T00:00:00.000Z",
        ("contacts", "c1"): "Ada",
        ("contacts", "c2"): "Grace",
        ("contacts_profiles", "c1_A1"): "c1|ada@a1.example",
        ("contacts_profiles", "c1_A2"): "c1|ada@a2.example",
    }


def test_singer_emit_stream_spec_shapes(spark):
    """K1 interop egress: SCHEMA first (reference JSON-Schema dialect +
    key_properties), one RECORD per row with schema projection (extra
    keys dropped) and reference wire formats (ms-ISO 'Z' instants,
    ISO dates), STATE last; every line is valid JSON."""
    from datetime import date, datetime

    from pubic_multi_platform_to_postgres_spark.plans.jsonschema import (
        compile_schema,
        to_json_schema,
    )
    from pubic_multi_platform_to_postgres_spark.sources.singer import emit_stream

    schema = {
        "type": "object",
        "properties": {
            "id": {"type": "string"},
            "updatedDate": {"type": ["null", "string"], "format": "date-time"},
            "day": {"type": ["null", "string"], "format": "date"},
            "n": {"type": ["null", "integer"]},
        },
        "additionalProperties": False,
    }
    cat = Catalog()
    stream = cat.register_json_schema(
        "tasks", schema, key_properties=["id"], replication_key="updatedDate"
    )
    # round-trip: StructType -> dialect -> StructType is lossless
    assert compile_schema(to_json_schema(stream.schema)) == stream.schema

    df = spark.createDataFrame(
        [("t1", datetime(2024, 1, 2, 3, 4, 5, 123000), date(2024, 1, 2), 7)],
        stream.schema,
    ).withColumn("dropped", F.lit("x"))
    lines = list(emit_stream(df, stream, bookmarks={"tasks": "2024-01-02"}))
    msgs = [json.loads(ln) for ln in lines]
    assert [m["type"] for m in msgs] == ["SCHEMA", "RECORD", "STATE"]
    assert msgs[0]["stream"] == "tasks"
    assert msgs[0]["key_properties"] == ["id"]
    assert msgs[0]["schema"]["properties"]["updatedDate"] == {
        "type": ["null", "string"], "format": "date-time"
    }
    rec = msgs[1]["record"]
    assert rec == {
        "id": "t1",
        "updatedDate": "2024-01-02T03:04:05.123Z",
        "day": "2024-01-02",
        "n": 7,
    }  # 'dropped' projected away (write_record parity)
    assert msgs[2] == {"type": "STATE", "value": {"tasks": "2024-01-02"}}


def test_singer_target_roundtrip_nested(spark):
    """K1 consumer-side proof (VERDICT r7 Next #5): emitter output piped
    through the in-repo spec-validating Singer target lands row-for-row
    — including NESTED objects/arrays whose leaf datetimes/dates/NaN
    must be wire-converted recursively (ADVICE r7: top-level-only
    conversion raised TypeError on nested date-times). typed_records
    parses the wire strings back through the declared schema, so the
    comparison is value-level, not string-level; the final STATE carries
    the bookmarks; nested nullable objects survive the JSON-Schema
    round-trip as ["null","object"] unions."""
    from datetime import date, datetime

    from pubic_multi_platform_to_postgres_spark.plans.jsonschema import (
        compile_schema,
        to_json_schema,
    )
    from pubic_multi_platform_to_postgres_spark.sources.singer import (
        SingerTarget,
        emit_stream,
    )

    schema = {
        "type": "object",
        "properties": {
            "id": {"type": "string"},
            "meta": {
                "type": ["null", "object"],
                "properties": {
                    "updated": {"type": ["null", "string"], "format": "date-time"},
                    "score": {"type": ["null", "number"]},
                },
                "additionalProperties": False,
            },
            "days": {
                "type": ["null", "array"],
                "items": {"type": ["null", "string"], "format": "date"},
            },
        },
        "additionalProperties": False,
    }
    cat = Catalog()
    stream = cat.register_json_schema("things", schema, key_properties=["id"])
    # nullable OBJECT at depth >= 2 survives the dialect round-trip
    assert compile_schema(to_json_schema(stream.schema)) == stream.schema
    assert to_json_schema(stream.schema)["properties"]["meta"]["type"] == [
        "null", "object",
    ]

    rows = [
        ("a", (datetime(2024, 1, 2, 3, 4, 5, 123000), 1.5),
         [date(2024, 1, 2), None]),
        ("b", (None, float("nan")), None),   # NaN must land as null
        ("c", None, []),
    ]
    df = spark.createDataFrame(rows, stream.schema)
    tgt = SingerTarget().consume(
        emit_stream(df, stream, bookmarks={"things": "2024-01-02"})
    )
    assert tgt.counts == {"SCHEMA": 1, "RECORD": 3, "STATE": 1}
    assert tgt.state == {"things": "2024-01-02"}
    got = {r["id"]: r for r in tgt.typed_records("things")}
    assert got["a"]["meta"] == {
        "updated": datetime(2024, 1, 2, 3, 4, 5, 123000), "score": 1.5,
    }
    assert got["a"]["days"] == [date(2024, 1, 2), None]
    assert got["b"]["meta"] == {"updated": None, "score": None}  # NaN -> null
    assert got["c"]["meta"] is None and got["c"]["days"] == []


def test_singer_target_rejects_protocol_violations():
    """The target enforces the spec: RECORD before SCHEMA, undeclared
    properties (additionalProperties: false), null key properties,
    key_properties outside the schema, and unknown message types all
    raise; a valid sequence with STATE anywhere passes."""
    import pytest

    from pubic_multi_platform_to_postgres_spark.sources.singer import (
        SingerProtocolError,
        SingerTarget,
    )

    sch = json.dumps({
        "type": "SCHEMA", "stream": "s",
        "schema": {"type": "object",
                   "properties": {"id": {"type": "string"},
                                  "v": {"type": ["null", "integer"]}},
                   "additionalProperties": False},
        "key_properties": ["id"],
    })
    rec = json.dumps({"type": "RECORD", "stream": "s",
                      "record": {"id": "x", "v": 1}})

    with pytest.raises(SingerProtocolError, match="before its SCHEMA"):
        SingerTarget().consume([rec])
    with pytest.raises(SingerProtocolError, match="undeclared"):
        SingerTarget().consume([sch, json.dumps(
            {"type": "RECORD", "stream": "s", "record": {"id": "x", "zz": 1}})])
    with pytest.raises(SingerProtocolError, match="key property"):
        SingerTarget().consume([sch, json.dumps(
            {"type": "RECORD", "stream": "s", "record": {"id": None}})])
    with pytest.raises(SingerProtocolError, match="not all declared"):
        SingerTarget().consume([json.dumps(
            {"type": "SCHEMA", "stream": "s",
             "schema": {"type": "object", "properties": {}},
             "key_properties": ["missing"]})])
    with pytest.raises(SingerProtocolError, match="unknown type"):
        SingerTarget().consume(['{"type": "ACTIVATE_VERSION"}'])
    with pytest.raises(SingerProtocolError, match="invalid JSON"):
        SingerTarget().consume(["{not json"])
    ok = SingerTarget().consume(
        [sch, json.dumps({"type": "STATE", "value": {}}), rec])
    assert ok.counts["RECORD"] == 1


def test_scan_cursor_follows_after_until_absent():
    pages = {
        None: {"results": [{"id": 1}, {"id": 2}], "paging": {"next": {"after": "A"}}},
        "A": {"results": [{"id": 3}], "paging": {"next": {"after": "B"}}},
        "B": {"results": [{"id": 4}], "paging": {}},
    }
    f = fetcher(lambda url, p, h: pages[p.get("after")])
    rows = list(scan_cursor(f, "objects/deals", page_size=2))
    assert [r["id"] for r in rows] == [1, 2, 3, 4]
    # limit pushed on every request
    assert all(c[1]["limit"] == 2 for c in f.transport.calls)


def test_scan_token_stops_on_empty_response_size():
    pages = {
        None: {"data": [{"id": "a"}], "nextPageToken": "T1", "responseSize": 1},
        "T1": {"data": [{"id": "b"}], "nextPageToken": "T2", "responseSize": 0},
        "T2": {"data": [{"id": "never"}]},
    }
    f = fetcher(lambda url, p, h: pages[p.get("nextPageToken")])
    rows = list(scan_token(f, "tasks", page_size=1000))
    # responseSize == 0 stops even though a token was returned (Wrike quirk)
    assert [r["id"] for r in rows] == ["a", "b"]
    assert all(c[1]["pageSize"] == 1000 for c in f.transport.calls)


def test_scan_numbered_yields_all_pages_including_first():
    def respond(url, p, h):
        page = p["page"]
        return {
            "pagination": {"page": page, "pageCount": 3},
            "Invoices": [{"InvoiceID": f"p{page}"}],
        }

    f = fetcher(respond)
    rows = list(scan_numbered(f, "invoices", results_key="Invoices"))
    # fidelity fix: the reference drops page 1 (tap_xero/utility.py:89-102);
    # we yield every page exactly once
    assert [r["InvoiceID"] for r in rows] == ["p1", "p2", "p3"]
    assert [c[1]["page"] for c in f.transport.calls] == [1, 2, 3]


def test_scan_numbered_single_page_yields_rows():
    f = fetcher(lambda url, p, h: {"pagination": {"pageCount": 1}, "Items": [{"k": 1}]})
    assert list(scan_numbered(f, "items", results_key="Items")) == [{"k": 1}]


def test_year_windows_cover_range_without_overlap():
    ws = list(year_windows("2021-01-01", datetime(2023, 4, 1)))
    assert ws == [
        ("2021-01-01", "2022-01-01"),
        ("2022-01-01", "2023-01-01"),
        ("2023-01-01", "2023-04-01"),
    ]


def test_scan_windowed_fetches_each_key_per_window():
    f = fetcher(lambda url, p, h: {"Budgets": [{"b": url, "from": p["DateFrom"]}]})
    rows = list(
        scan_windowed(
            f, lambda k: f"Budgets/{k}", ["B1", "B2"], "2021-01-01", datetime(2022, 6, 1)
        )
    )
    assert len(rows) == 2 * 2  # 2 keys x 2 windows
    assert {r["b"] for r in rows} == {"Budgets/B1", "Budgets/B2"}


def test_scan_keyed_stamps_driving_key():
    f = fetcher(lambda url, p, h: {"results": [{"conversionId": "c1"}], "paging": {}})
    rows = list(
        scan_keyed(f, lambda k: f"forms/{k}", ["F1", "F2"], key_field="form_id")
    )
    assert [(r["form_id"], r["conversionId"]) for r in rows] == [("F1", "c1"), ("F2", "c1")]


def test_scan_analytics_yields_date_buckets():
    f = fetcher(lambda url, p, h: {"2024-01-01": [{"v": 1}], "2024-01-02": [{"v": 2}]})
    pairs = dict(scan_analytics(f, "reports/daily"))
    assert set(pairs) == {"2024-01-01", "2024-01-02"}


def test_scan_full_handles_dict_and_list_payloads():
    assert list(scan_full(fetcher(lambda u, p, h: {"data": [{"x": 1}]}), "contacts")) == [{"x": 1}]


# ---------------------------------------------------------------------------
# Throttle / retry / auth


def test_rate_limiter_enforces_rate_with_fake_clock():
    now = [0.0]
    waits: list[float] = []

    def clock():
        return now[0]

    def sleep(s):
        waits.append(s)
        now[0] += s

    rl = RateLimiter(rate=2.0, capacity=1.0, clock=clock, sleep=sleep)
    for _ in range(4):
        rl.acquire()
    # 1 free token, then 3 waits of ~0.5s at 2 req/s
    assert len(waits) == 3
    assert all(abs(w - 0.5) < 1e-9 for w in waits)


def test_retry_backoff_sequence_and_reraise():
    waits: list[float] = []
    policy = RetryPolicy(attempts=5, wait_initial=1.0, wait_max=10.0, sleep=waits.append)
    calls = [0]

    def flaky():
        calls[0] += 1
        raise ConnectionError("boom")

    with pytest.raises(ConnectionError):
        policy.call(flaky)
    assert calls[0] == 5
    assert waits == [1.0, 2.0, 4.0, 8.0]


def test_retry_succeeds_midway():
    calls = [0]

    def flaky():
        calls[0] += 1
        if calls[0] < 3:
            raise TimeoutError
        return "ok"

    assert RetryPolicy(sleep=lambda s: None).call(flaky) == "ok"
    assert calls[0] == 3


def test_oauth_refresh_and_tenant_discovery():
    clock = [1000.0]

    def respond(url, payload, headers):
        if url == "https://id/token":
            assert payload["grant_type"] == "refresh_token"
            return {"access_token": f"AT{len(t.posts)}", "refresh_token": "RT2", "expires_in": 1800}
        if url == "https://api/connections":
            assert headers["Authorization"].startswith("Bearer AT")
            return [{"tenantId": "T1", "tenantName": "Acme"}]
        raise AssertionError(url)

    t = MockTransport(respond)
    auth = OAuth2RefreshAuth(
        transport=t,
        token_url="https://id/token",
        client_id="cid",
        client_secret="sec",
        tokens={"refresh_token": "RT1"},
        connections_url="https://api/connections",
        clock=lambda: clock[0],
    )
    tok1 = auth.access_token()  # expired (no expires_at) -> refresh
    assert tok1 == "AT1" and auth.tokens["refresh_token"] == "RT2"
    assert auth.access_token() == "AT1"  # cached, no second refresh
    assert len(t.posts) == 1
    tenants = auth.discover_tenants()
    assert tenants == [{"id": "T1", "name": "Acme"}]
    clock[0] += 3600  # expire -> next use refreshes again
    assert auth.access_token() == "AT2"


# ---------------------------------------------------------------------------
# End-to-end pipeline: mock API -> flatten -> substream -> upsert -> bookmarks


TASKS_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "string"},
        "title": {"type": ["null", "string"]},
        "updatedDate": {"type": ["null", "string"], "format": "date-time"},
        "dates-start": {"type": ["null", "string"]},
    },
    "additionalProperties": False,
}

CONTACTS_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "string"},
        "firstName": {"type": ["null", "string"]},
    },
    "additionalProperties": False,
}

PROFILES_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "string"},
        "parent_id": {"type": ["null", "string"]},
        "accountId": {"type": ["null", "string"]},
        "email": {"type": ["null", "string"]},
    },
    "additionalProperties": False,
}


def _raw_tasks(n=4, updated="2024-06-01T00:00:00.000Z"):
    return [
        {
            "id": f"t{i}",
            "title": f"Task {i}",
            "updatedDate": updated,
            "dates": {"start": f"2024-05-0{i + 1}"},
            "ignored_extra": "dropped by projection",
        }
        for i in range(n)
    ]


def _raw_contacts():
    return [
        {
            "id": "c1",
            "firstName": "Ada",
            "profiles": [
                {"accountId": "A1", "email": "ada@a1.example"},
                {"accountId": "A2", "email": "ada@a2.example"},
            ],
        },
        {"id": "c2", "firstName": "Grace", "profiles": []},
    ]


def _make_pipeline(spark, tmp_path, extracted: dict[str, list]):
    cat = Catalog()
    cat.register_json_schema(
        "tasks", TASKS_SCHEMA, key_properties=["id"], replication_key="updatedDate",
        source="wrike",
    )
    cat.register_json_schema("contacts", CONTACTS_SCHEMA, key_properties=["id"], source="wrike")
    cat.register_json_schema(
        "contacts_profiles", PROFILES_SCHEMA, key_properties=["id"], parent="contacts",
        source="wrike",
    )

    def tasks_transform(df):
        if not df.columns:
            return {"tasks": df}
        return {"tasks": flatten(df)}

    def contacts_transform(df):
        if "profiles" not in df.columns:
            return {"contacts": df}
        profiles = split_substream(df, "profiles", parent_key="id", key_parts=["accountId"])
        return {"contacts": df.drop("profiles"), "contacts_profiles": profiles}

    specs = [
        StreamSpec(cat.get("tasks"), lambda bm: extracted["tasks"], tasks_transform,
                   client_filter=True),
        StreamSpec(cat.get("contacts"), lambda bm: extracted["contacts"], contacts_transform,
                   bookmark_mode="run_start"),
    ]
    return Pipeline("wrike", cat, specs, tmp_path / "lake")


def test_pipeline_end_to_end_and_idempotent_rerun(spark, tmp_path):
    extracted = {"tasks": _raw_tasks(), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)

    reports = {r.stream: r for r in pipe.run(spark)}
    assert all(r.ok for r in reports.values()), [r.error for r in reports.values()]
    assert reports["tasks"].tables == {"tasks": 4}
    assert reports["contacts"].tables == {"contacts": 2, "contacts_profiles": 2}

    lake = tmp_path / "lake"
    tasks = spark.read.parquet(str(lake / "tasks"))
    # flatten produced dash-joined names; projection dropped the extra key
    assert sorted(tasks.columns) == ["dates-start", "id", "title", "updatedDate"]
    profiles = spark.read.parquet(str(lake / "contacts_profiles"))
    got = {r["id"] for r in profiles.collect()}
    assert got == {"c1_A1", "c1_A2"}  # surrogate key U3: parent_id + accountId

    # state file: Singer envelope with run-start bookmarks
    state = json.loads((lake / "state_wrike.json").read_text())
    assert state["type"] == "STATE" and "tasks" in state["value"]

    # property test (§5 #3): re-running with the same data is a no-op
    before = sorted(tasks.collect(), key=lambda r: r["id"])
    reports2 = {r.stream: r for r in pipe.run(spark)}
    # second run: bookmark now newer than every updatedDate -> 0 rows pass F3
    assert reports2["tasks"].tables["tasks"] == 0
    after = sorted(spark.read.parquet(str(lake / "tasks")).collect(), key=lambda r: r["id"])
    assert before == after


def test_pipeline_upsert_overwrites_on_pk(spark, tmp_path):
    extracted = {"tasks": _raw_tasks(2), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)
    pipe.run(spark)
    # same PK, newer timestamp, changed title -> replaces
    extracted["tasks"] = [
        {"id": "t0", "title": "Task 0 v2", "updatedDate": "2030-01-01T00:00:00.000Z",
         "dates": {"start": "2024-05-01"}}
    ]
    pipe.run(spark)
    tasks = {r["id"]: r["title"] for r in spark.read.parquet(str(tmp_path / "lake/tasks")).collect()}
    assert tasks == {"t0": "Task 0 v2", "t1": "Task 1"}


def test_pipeline_landing_maintains_clone_statistic(spark, tmp_path, monkeypatch):
    """VERDICT r13 Next #1: the REAL land/upsert cycle (not only the
    sink in isolation) maintains and publishes the clone statistic —
    after each sync the engine-wide registry holds the landed table's
    exact (n_rows, clique_pairs), readable with no probe, and a
    replacing second sync moves the statistic with the data."""
    from pubic_multi_platform_to_postgres_spark.operators.dedup import clone_mass
    from pubic_multi_platform_to_postgres_spark.plans import stats

    monkeypatch.setattr(stats, "CORPUS_STATS", stats.StatsRegistry())
    raw = _raw_tasks(3)
    raw[1]["title"] = raw[0]["title"]  # plant one clone pair
    extracted = {"tasks": raw, "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)
    pipe.specs[0].clone_stat_col = "title"
    pipe.run(spark)

    table = tmp_path / "lake" / "tasks"
    landed = spark.read.parquet(str(table))
    live = clone_mass(landed, "title")
    assert stats.CORPUS_STATS.clone_summary(
        None, "title", source_path=str(table)
    ) == live == (3, 1)

    # second sync replaces t2's content into the clone class (newer
    # bookmark so the F3 client filter passes it through)
    extracted["tasks"] = [{
        "id": "t2", "title": raw[0]["title"],
        "updatedDate": "2031-01-01T00:00:00.000Z",
        "dates": {"start": "2024-05-03"},
    }]
    pipe.run(spark)
    assert stats.CORPUS_STATS.clone_summary(
        None, "title", source_path=str(table)
    ) == clone_mass(spark.read.parquet(str(table)), "title") == (3, 3)


def test_pipeline_failure_isolation(spark, tmp_path):
    extracted = {"tasks": _raw_tasks(1), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)

    def exploding(bm):
        raise RuntimeError("api down")

    pipe.specs[0] = StreamSpec(pipe.specs[0].stream, exploding, pipe.specs[0].transform)
    reports = {r.stream: r for r in pipe.run(spark)}
    assert not reports["tasks"].ok and "api down" in reports["tasks"].error
    assert reports["contacts"].ok  # O6: other streams unaffected
    # failed stream gets no bookmark; successful one does
    state = json.loads((tmp_path / "lake/state_wrike.json").read_text())
    assert "tasks" not in state["value"] and "contacts" in state["value"]


def test_pipeline_no_cache_leak_when_probe_fails(spark, tmp_path):
    """ADVICE r7: an exception in the quarantine probe / typed
    projection (between persist() and the sink write) is caught
    per-stream by the runner, which keeps going — the cached batch must
    still be unpersisted or it leaks for the rest of the application.
    A transform whose execution raises during the probe (type mismatch
    forces the probe to run the plan) must leave ZERO persistent RDDs
    behind. Checked on a one-table stream (``tasks``) and on one table
    of a two-table stream (``contacts_profiles``, landing after
    ``contacts``): the stream fails, its bookmark stays put, and a
    clean rerun lands both of its tables exactly."""
    import dataclasses

    extracted = {"tasks": _raw_tasks(1), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)
    lake = tmp_path / "lake"

    @F.udf("int")
    def boom(s):
        raise RuntimeError("probe boom")

    def breaking(spec, table, column):
        def bad_transform(raw):
            out = dict(spec.transform(raw))
            # int column vs declared string type -> the quarantine probe
            # must execute the plan -> the UDF raises mid-probe
            out[table] = out[table].withColumn(column, boom(F.col(column)))
            return out

        return dataclasses.replace(spec, transform=bad_transform)

    def persistent_ids():
        # DELTA check, not absolute: the shared test session carries
        # cached RDDs from other tests (localCheckpoints linger until
        # the ContextCleaner GCs them) — only NEW survivors count
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return set(m.keySet().toArray())

    def bookmarks():
        return json.loads((lake / "state_wrike.json").read_text())["value"]

    tasks_spec, contacts_spec = pipe.specs
    before = persistent_ids()
    pipe.specs = [breaking(tasks_spec, "tasks", "title"), contacts_spec]
    reports = {r.stream: r for r in pipe.run(spark)}
    assert not reports["tasks"].ok
    assert reports["contacts"].ok          # O6 isolation still holds
    assert "tasks" not in bookmarks()
    contacts_bookmark = bookmarks()["contacts"]

    pipe.specs = [tasks_spec, breaking(contacts_spec, "contacts_profiles", "email")]
    reports = {r.stream: r for r in pipe.run(spark)}
    assert reports["tasks"].ok
    assert not reports["contacts"].ok and "probe boom" in reports["contacts"].error
    assert bookmarks()["contacts"] == contacts_bookmark  # not advanced
    leaked = persistent_ids() - before
    assert not leaked, f"cached RDD(s) {leaked} leaked past the finally"

    pipe.specs = [tasks_spec, contacts_spec]
    reports = {r.stream: r for r in pipe.run(spark)}
    assert reports["contacts"].ok
    assert reports["contacts"].tables == {"contacts": 2, "contacts_profiles": 2}
    assert bookmarks()["contacts"] > contacts_bookmark
    contacts = {tuple(r) for r in spark.read.parquet(str(lake / "contacts")).collect()}
    assert contacts == {("c1", "Ada"), ("c2", "Grace")}
    profiles = {(r["id"], r["parent_id"], r["email"])
                for r in spark.read.parquet(str(lake / "contacts_profiles")).collect()}
    assert profiles == {("c1_A1", "c1", "ada@a1.example"), ("c1_A2", "c1", "ada@a2.example")}


def _staged(lake, pipeline="wrike"):
    return sorted(p.name for p in (lake / "_staging" / pipeline).glob("*"))


def test_rows_to_df_is_a_scan_of_the_staging_file(spark, tmp_path):
    """Extracted rows are parsed by a JVM file scan of one JSON-lines
    file, not by a Python-fed RDD; an empty batch stages nothing."""
    from urllib.parse import urlparse

    stream = _make_pipeline(spark, tmp_path, {}).catalog.get("contacts")
    staging = tmp_path / "_staging" / "wrike" / "contacts.jsonl"
    df = rows_to_df(spark, _raw_contacts(), stream, staging)
    assert [urlparse(f).path for f in df.inputFiles()] == [str(staging)]
    assert sorted(r["id"] for r in df.collect()) == ["c1", "c2"]
    assert df.schema["profiles"].dataType.elementType.fieldNames() == ["accountId", "email"]

    empty = tmp_path / "_staging" / "wrike" / "empty.jsonl"
    assert rows_to_df(spark, [], stream, empty).count() == 0
    assert not empty.exists()


def test_widened_object_lands_as_unescaped_json_text(spark, tmp_path):
    """A declared-string column that gets an object in one row and a
    string in another is inferred as a string; the object lands as its
    compact JSON text with non-ASCII characters kept as they are, the
    same text the RDD parse's re-serialization produced."""
    name = {"given": "José", "marks": ["ü", 1.5, 10000000000, None, True]}
    rows = [
        {"id": "c1", "firstName": name},
        {"id": "c2", "firstName": "Zoë"},
    ]
    pipe = _make_pipeline(spark, tmp_path, {"tasks": [], "contacts": rows})
    assert all(r.ok for r in pipe.run(spark))

    landed = {r["id"]: r["firstName"]
              for r in spark.read.parquet(str(tmp_path / "lake" / "contacts")).collect()}
    assert landed == {
        "c1": '{"given":"José","marks":["ü",1.5,10000000000,null,true]}',
        "c2": "Zoë",
    }
    rdd_parse = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in rows]))
    assert landed == {r["id"]: r["firstName"] for r in rdd_parse.collect()}


def test_sync_stream_removes_its_staging_file(spark, tmp_path):
    """The staging file lives exactly as long as the stream's sync: gone
    after a successful landing and after a transform that raises."""
    import dataclasses

    from pubic_multi_platform_to_postgres_spark.sources.state import BookmarkManager

    pipe = _make_pipeline(spark, tmp_path, {"contacts": _raw_contacts()})
    lake = tmp_path / "lake"
    spec = pipe.specs[1]
    run_start = datetime.now(timezone.utc)
    seen = []

    def watching(raw):
        seen.append(_staged(lake))
        return spec.transform(raw)

    report = pipe.sync_stream(spark, dataclasses.replace(spec, transform=watching),
                              BookmarkManager(), run_start)
    assert report.ok and report.tables == {"contacts": 2, "contacts_profiles": 2}
    assert seen[0] == ["contacts.jsonl"]  # the batch was staged while it landed
    assert _staged(lake) == []

    def raising(raw):
        seen.append(_staged(lake))
        raise RuntimeError("transform boom")

    with pytest.raises(RuntimeError, match="transform boom"):
        pipe.sync_stream(spark, dataclasses.replace(spec, transform=raising),
                         BookmarkManager(), run_start)
    assert seen[1] == ["contacts.jsonl"]
    assert _staged(lake) == []


def test_run_removes_own_stale_staging_files_only(spark, tmp_path):
    """A killed run leaves its staging files behind; the pipeline's next
    run deletes its own and leaves another pipeline's alone."""
    lake = tmp_path / "lake"
    for pipeline, name in (("wrike", "tasks.jsonl"), ("hubspot", "deals.jsonl")):
        (lake / "_staging" / pipeline).mkdir(parents=True)
        (lake / "_staging" / pipeline / name).write_text('{"id": "x"}\n')

    pipe = _make_pipeline(spark, tmp_path, {"tasks": _raw_tasks(1), "contacts": _raw_contacts()})
    assert all(r.ok for r in pipe.run(spark))
    assert _staged(lake) == []
    assert _staged(lake, pipeline="hubspot") == ["deals.jsonl"]


def test_pipeline_run_job_budget(spark, tmp_path):
    """Pins the Spark jobs one incremental ``Pipeline.run`` launches
    (two streams, three tables, every table already landed): 24 before
    the landing path was reworked, 17 after it (a JSON parse of a staged
    file instead of a Python-fed RDD, one aggregate counting a table's
    batch and its rejects instead of a reject count plus a post-write
    recount, and a job-free table open from the footer schema). A
    re-added recount or inference job fails here."""
    extracted = {"tasks": _raw_tasks(), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)
    pipe.run(spark)
    extracted["tasks"] = _raw_tasks(3, updated="2031-01-01T00:00:00.000Z")

    def last_job_id():
        # one job-id counter per SparkContext: the delta counts the jobs
        # of the pipeline's worker threads too
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    start = last_job_id()
    reports = pipe.run(spark)
    jobs = last_job_id() - start
    assert all(r.ok for r in reports)
    assert {t: n for r in reports for t, n in r.tables.items()} == {
        "tasks": 3, "contacts": 2, "contacts_profiles": 2}
    assert jobs <= 17, f"{jobs} Spark jobs for one incremental run (budget 17)"


def test_run_sequence_cycles_and_after_cycle(spark, tmp_path):
    extracted = {"tasks": _raw_tasks(2), "contacts": _raw_contacts()}
    pipe = _make_pipeline(spark, tmp_path, extracted)
    slept: list[float] = []
    cycles_seen: list[int] = []

    results = list(
        run_sequence(
            spark, [pipe], cycles=2, interval=7.0,
            after_cycle=lambda s: cycles_seen.append(1),
            sleep=slept.append,
        )
    )
    assert len(results) == 2 and all("wrike" in r for r in results)
    assert cycles_seen == [1, 1]  # view layer ran after each cycle (O1)
    assert slept == [7.0]  # sleeps between cycles, not after the last


# ---------------------------------------------------------------------------
# Python DataSource API: spark.read.format("singer_rest")


def test_rest_datasource_reads_units_in_parallel_partitions(spark):
    from pubic_multi_platform_to_postgres_spark.sources.spark_datasource import (
        RestDataSource,
    )

    spark.dataSource.register(RestDataSource)
    # two "form" units, each a 2-page cursor scan (pages consumed in order)
    fixture = {
        "forms/F1": [
            {"results": [{"id": "a1", "v": 1}], "paging": {"next": {"after": "X"}}},
            {"results": [{"id": "a2", "v": 2}], "paging": {}},
        ],
        "forms/F2": [
            {"results": [{"id": "b1", "v": 3}], "paging": {}},
        ],
    }
    df = (
        spark.read.format("singer_rest")
        .schema("id string, v long, form_id string")
        .option("scan", "cursor")
        .option("path", "forms/{unit}")
        .option("units", json.dumps(["F1", "F2"]))
        .option("unit_field", "form_id")
        .option("fixture", json.dumps(fixture))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one Spark task per unit
    rows = {(r["id"], r["v"], r["form_id"]) for r in df.collect()}
    assert rows == {("a1", 1, "F1"), ("a2", 2, "F1"), ("b1", 3, "F2")}


def test_rest_datasource_schema_projection_and_nulls(spark):
    from pubic_multi_platform_to_postgres_spark.sources.spark_datasource import (
        RestDataSource,
    )

    spark.dataSource.register(RestDataSource)
    fixture = {"tasks": {"data": [{"id": "t1", "extra": "dropped"}]}}
    df = (
        spark.read.format("singer_rest")
        .schema("id string, missing_col string")
        .option("scan", "full")
        .option("path", "tasks")
        .option("fixture", json.dumps(fixture))
        .load()
    )
    row = df.first()
    assert row["id"] == "t1" and row["missing_col"] is None
    assert df.columns == ["id", "missing_col"]  # extra key pruned at source


def test_rest_datasource_streaming_bookmark_offsets(spark, tmp_path):
    """readStream on the REST source: the bookmark is the offset. First
    micro-batch lands everything newer than start_bookmark; a second cycle
    against the same (unchanged) API lands nothing new."""
    from pubic_multi_platform_to_postgres_spark.sources.spark_datasource import (
        RestDataSource,
    )

    try:
        spark.dataSource.register(RestDataSource)
    except Exception:
        pass  # already registered by a prior test

    fixture = {
        "tasks": {
            "data": [
                {"id": "t1", "updatedAt": "2024-01-01T00:00:00.000Z"},
                {"id": "t2", "updatedAt": "2024-02-01T00:00:00.000Z"},
                {"id": "t3", "updatedAt": "2024-03-01T00:00:00.000Z"},
            ]
        }
    }

    def one_cycle(out_dir, ckpt):
        stream = (
            spark.readStream.format("singer_rest")
            .schema("id string, updatedAt string")
            .option("scan", "full")
            .option("path", "tasks")
            .option("fixture", json.dumps(fixture))
            .option("replication_key", "updatedAt")
            .option("start_bookmark", "2024-01-15T00:00:00.000Z")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    one_cycle(out, ckpt)
    ids = {r["id"] for r in spark.read.parquet(str(out)).collect()}
    assert ids == {"t2", "t3"}  # strictly newer than the start bookmark

    one_cycle(out, ckpt)  # same API state, same checkpoint -> no new rows
    assert spark.read.parquet(str(out)).count() == 2


def test_pipeline_max_key_bookmark_mode(spark, tmp_path):
    """Analytics-style streams advance the bookmark to max(observed key)
    rather than run-start time (SURVEY §2.7, tap_hubspot/fetch.py:143-146)."""
    cat = Catalog()
    cat.register_json_schema(
        "marketings",
        {
            "type": "object",
            "properties": {
                "id": {"type": "string"},
                "date_key": {"type": ["null", "string"]},
            },
            "additionalProperties": False,
        },
        key_properties=["id"],
        replication_key="date_key",
    )
    rows = [
        {"id": "2024-01-05-organic", "date_key": "2024-01-05"},
        {"id": "2024-01-09-paid", "date_key": "2024-01-09"},
    ]
    spec = StreamSpec(
        cat.get("marketings"), lambda bm: rows, bookmark_mode="max_key"
    )
    pipe = Pipeline("hubspot", cat, [spec], tmp_path / "lake")
    pipe.run(spark)
    state = json.loads((tmp_path / "lake/state_hubspot.json").read_text())
    assert state["value"]["marketings"] == "2024-01-09"
    # old bookmark newer than all observed -> kept (max semantics)
    (tmp_path / "lake/state_hubspot.json").write_text(
        json.dumps({"type": "STATE", "value": {"marketings": "2024-06-01"}})
    )
    pipe.run(spark)
    state = json.loads((tmp_path / "lake/state_hubspot.json").read_text())
    assert state["value"]["marketings"] == "2024-06-01"


def test_cli_discover_and_list(tmp_path, capsys):
    from pubic_multi_platform_to_postgres_spark.cli import main

    (tmp_path / "tasks.json").write_text(json.dumps({
        "type": "object",
        "properties": {"id": {"type": "string"},
                       "updatedDate": {"type": ["null", "string"], "format": "date-time"}},
        "additionalProperties": False,
    }))
    assert main(["discover", "--schemas", str(tmp_path)]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["streams"][0]["stream"] == "tasks"

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "[oracle]" in out


def test_pipeline_quarantines_uncastable_rows(spark, tmp_path):
    """A row whose value fails its declared-type cast lands in
    _quarantine/<table> as raw JSON; the rest of the batch syncs."""
    extracted = {
        "tasks": _raw_tasks(2) + [
            {"id": "bad1", "title": "Broken", "updatedDate": "not-a-date",
             "dates": {"start": "2024-05-09"}},
        ],
        "contacts": _raw_contacts(),
    }
    pipe = _make_pipeline(spark, tmp_path, extracted)
    reports = {r.stream: r for r in pipe.run(spark)}
    assert reports["tasks"].ok
    assert reports["tasks"].tables["tasks"] == 2
    assert reports["tasks"].quarantined == {"tasks": 1}

    q = spark.read.parquet(str(tmp_path / "lake/_quarantine/tasks"))
    assert q.count() == 1
    raw = q.collect()[0]
    assert "not-a-date" in raw["raw"] and raw["_table"] == "tasks"

    landed = {r["id"] for r in
              spark.read.parquet(str(tmp_path / "lake/tasks")).collect()}
    assert landed == {"t0", "t1"}  # bad row kept out of the table


def test_full_sync_ignores_bookmarks_and_rewrites_them(spark, tmp_path):
    """The reference's --full_sync backfill (runner/__init__.py:137-141,
    which simply omits --state): stored bookmarks are ignored — extraction
    sees no bookmark, the client filter passes everything — and state is
    then rewritten to run-start per the normal §2.7 contract."""
    seen_bookmarks: list = []
    raw = _raw_tasks()

    def extract(bm):
        seen_bookmarks.append(bm)
        return raw

    cat = Catalog()
    cat.register_json_schema(
        "tasks", TASKS_SCHEMA, key_properties=["id"], replication_key="updatedDate",
        source="wrike",
    )
    spec = StreamSpec(
        cat.get("tasks"), extract,
        lambda df: {"tasks": flatten(df)} if df.columns else {"tasks": df},
        client_filter=True,
    )
    pipe = Pipeline("wrike", cat, [spec], tmp_path / "lake")

    # normal run lands data and a run-start bookmark newer than every row
    pipe.run(spark)
    assert seen_bookmarks == [None]
    # incremental rerun: bookmark filters everything out
    reports = {r.stream: r for r in pipe.run(spark)}
    assert seen_bookmarks[1] is not None
    assert reports["tasks"].tables["tasks"] == 0

    # full_sync: extraction sees NO bookmark and all rows land again
    reports = {r.stream: r for r in pipe.run(spark, full_sync=True)}
    assert seen_bookmarks[2] is None
    assert reports["tasks"].tables["tasks"] == len(raw)

    # and the bookmark was rewritten to run-start (not dropped): the next
    # incremental run filters again
    state = json.loads((tmp_path / "lake/state_wrike.json").read_text())
    assert state["value"]["tasks"] is not None
    reports = {r.stream: r for r in pipe.run(spark)}
    assert seen_bookmarks[3] == state["value"]["tasks"]
    assert reports["tasks"].tables["tasks"] == 0
