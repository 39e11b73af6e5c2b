"""Bookmark / state management with the reference's replication contract.

Reference semantics (SURVEY.md §2.7):

- State is a per-stream map ``{stream_name: iso8601_ms_timestamp}``
  persisted between runs as a JSON file wrapped in a Singer envelope
  ``{"type": "STATE", "value": {...}}`` (``runner/__init__.py:342-366``,
  unwrap at ``internal.py:226``).
- For almost every stream the **new bookmark is the pipeline run start
  time**, not the max observed row timestamp (``tap_wrike/fetch.py:34,
  57-59``; ``tap_hubspot/fetch.py:58-60,97``; ``tap_xero/fetch.py:30,57``).
  Correctness relies on at-least-once delivery + PK upsert at the sink:
  rows arriving between run start and run end are re-extracted next run
  and re-upserted idempotently.
- HubSpot analytics advances to ``max(date_key, old bookmark)``
  (``tap_hubspot/fetch.py:114,143-146``).
- form_submissions with no known form ids parks on the sentinel
  ``2020-01-01T01:00:0.0Z`` (``tap_hubspot/fetch.py:203,209``).
- Incremental filters are **strictly greater than** the bookmark, and rows
  missing the replication key are skipped (``tap_hubspot/fetch.py:69-76``,
  string-ISO comparison — safe at equal precision, which ``format_date``
  guarantees by normalizing to milliseconds).
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FORM_SUBMISSIONS_SENTINEL = "2020-01-01T01:00:0.0Z"

_OFFSET_SUFFIX = re.compile(r"([+-]\d{2}:?\d{2})$")


def parse_bookmark(bookmark: str) -> datetime:
    """Parse a reference-format bookmark into an aware datetime.

    Strict ``datetime.fromisoformat`` rejects the reference's canonical
    form-submissions sentinel ``2020-01-01T01:00:0.0Z`` (single-digit
    seconds, ``tap_hubspot/fetch.py:203``), so time fields are zero-padded
    first. A bookmark with no zone designator is forced to UTC — the
    reference always emits UTC (``tap_wrike/utility.py:242-245``), and
    interpreting a naive value in the host timezone would silently shift
    the incremental window.
    """
    s = bookmark.strip()
    if s.endswith(("Z", "z")):
        offset, s = "+00:00", s[:-1]
    else:
        m = _OFFSET_SUFFIX.search(s)
        if m:
            offset, s = m.group(1), s[: m.start()]
            if ":" not in offset:
                offset = offset[:3] + ":" + offset[3:]
        else:
            offset = ""
    sep = "T" if "T" in s else " "
    if sep in s:
        date_part, _, time_part = s.partition(sep)
        padded = []
        for field in time_part.split(":"):
            whole, dot, frac = field.partition(".")
            padded.append(whole.zfill(2) + dot + frac)
        s = date_part + "T" + ":".join(padded)
    dt = datetime.fromisoformat(s + offset)
    return dt if dt.tzinfo is not None else dt.replace(tzinfo=timezone.utc)


def format_date(dt: datetime) -> str:
    """ISO-8601 UTC with millisecond precision + 'Z' — the reference's
    canonical bookmark format (``tap_wrike/utility.py:242-245``)."""
    dt = dt.astimezone(timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


class BookmarkManager:
    """Per-stream bookmark map + Singer-envelope JSON persistence."""

    def __init__(self, state: dict[str, str] | None = None) -> None:
        self._state: dict[str, str] = dict(state or {})

    # -- persistence (K3) ---------------------------------------------------

    @classmethod
    def load(cls, path: str | Path) -> BookmarkManager:
        p = Path(path)
        if not p.exists():
            return cls()
        doc = json.loads(p.read_text())
        # Singer envelope {"type": "STATE", "value": {...}} or bare map
        value = doc.get("value", doc) if isinstance(doc, dict) else {}
        if isinstance(value, dict) and value.get("type") == "STATE":
            value = value.get("value", {})
        return cls({k: v for k, v in value.items() if isinstance(v, str)})

    def save(self, path: str | Path) -> None:
        """Write ``<path>.tmp``, then rename it over ``path``: a save that
        dies partway leaves the previous state file whole."""
        p = Path(path)
        tmp = p.with_name(p.name + ".tmp")
        tmp.write_text(
            json.dumps({"type": "STATE", "value": dict(self._state)}, indent=2)
        )
        os.replace(tmp, p)

    # -- bookmark reads/writes (§2.7) --------------------------------------

    def get(self, stream: str, default: str | None = None) -> str | None:
        return self._state.get(stream, default)

    def set_run_start(self, stream: str, run_start: datetime | None = None) -> str:
        """Default contract: bookmark ← run start time, unconditionally."""
        bm = format_date(run_start or datetime.now(timezone.utc))
        self._state[stream] = bm
        return bm

    def advance_max(self, stream: str, observed: str) -> str:
        """Analytics contract: bookmark ← max(observed, old). ISO strings
        at equal precision compare lexicographically = chronologically."""
        old = self._state.get(stream)
        self._state[stream] = max(observed, old) if old else observed
        return self._state[stream]

    def set_sentinel(self, stream: str, sentinel: str = FORM_SUBMISSIONS_SENTINEL) -> str:
        self._state[stream] = sentinel
        return sentinel

    def merge(self, updates: dict[str, str]) -> None:
        """Merge per-stream results into shared state after a concurrent
        sync round (``internal.py:167-170``)."""
        self._state.update(updates)

    def as_dict(self) -> dict[str, str]:
        return dict(self._state)


def filter_newer(
    df: DataFrame,
    replication_key: str | Column,
    bookmark: str | None,
) -> DataFrame:
    """Incremental filter: keep rows strictly newer than the bookmark.

    Reference F3 semantics: ``updatedAt > bookmark`` compared as ISO
    strings; rows with a NULL replication key are skipped even when no
    bookmark exists (``tap_hubspot/fetch.py:69-76``). For timestamp
    columns Spark compares natively; for string columns the comparison is
    lexicographic, which matches the reference byte-for-byte.
    """
    key = F.col(replication_key) if isinstance(replication_key, str) else replication_key
    out = df.filter(key.isNotNull())
    if bookmark is None:
        return out
    kt = out.schema[replication_key].dataType.typeName() if isinstance(replication_key, str) else None
    if kt == "timestamp":
        # Compare as epoch instants: the bookmark is a UTC ISO string, and
        # to_timestamp(<naive literal>) would interpret it in the SESSION
        # timezone — correct only under spark.sql.session.timeZone=UTC. The
        # driver contract runs vanilla sessions, so parse the bookmark to an
        # epoch in Python (timezone-explicit) and compare unix_micros, which
        # is session-tz-independent for instant-typed columns.
        dt = parse_bookmark(bookmark)
        epoch_us = int(dt.timestamp() * 1_000_000)
        return out.filter(F.unix_micros(key) > F.lit(epoch_us))
    if kt == "timestamp_ntz":
        # NTZ columns are wall-clock values with no instant; the bookmark's
        # wall-clock (sans zone designator) compares timezone-free.
        naive = parse_bookmark(bookmark).replace(tzinfo=None).isoformat(sep=" ")
        return out.filter(key > F.to_timestamp_ntz(F.lit(naive)))
    return out.filter(key > F.lit(bookmark))
