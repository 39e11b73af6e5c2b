"""Traced runs: spans at layer boundaries plus a Spark event-log reducer.

The tracer wraps the engine's public layer functions from the outside
(``Tracer.install`` monkeypatches them; the engine's code is unchanged) and
keeps one span per call in memory: name, start, end, parent, thread and run
id.  Each span also tags the Spark jobs its thread submits through the
``perfbench.span`` local property, so the event log attributes every job
and stage to the innermost span that launched it, across ``Pipeline``'s
worker threads.  Jobs without a tag fall back to attribution by
submission time.

``reduce_event_log`` turns the log plus the spans into per-span execution
figures; ``layer_table`` rolls them up per layer.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag(self, span_id: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            PROP, None if span_id is None else str(span_id))

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a worker thread's outermost span hangs under the main thread's
        # innermost open span (the cycle that started the worker pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
              "thread": threading.get_ident(), "run": self.run_id, "start": time.time()}
        stack.append(sp)
        self._tag(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            self._tag(stack[-1]["id"] if stack else None)
            with self._lock:
                self.spans.append(sp)

    # -- wrapping the engine's layer functions -------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (function, method or classmethod) by a
        version that runs inside a span called ``name``."""
        raw = owner.__dict__[attr]
        fn = raw.__func__ if isinstance(raw, classmethod) else raw
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, classmethod(traced) if isinstance(raw, classmethod) else traced)
        self._patched.append((owner, attr, raw))

    def install(self) -> None:
        """Wrap every layer boundary the per-layer table reports."""
        from pubic_multi_platform_to_postgres_spark.operators import upsert
        from pubic_multi_platform_to_postgres_spark.plans import stats, views
        from pubic_multi_platform_to_postgres_spark.sources import pipeline, state

        self.wrap(pipeline, "rows_to_df", "pipeline.rows_to_df")
        self.wrap(pipeline.Pipeline, "sync_stream", "pipeline.sync_stream")
        self.wrap(upsert.ParquetUpsertSink, "write", "upsert.write")
        self.wrap(upsert.ParquetUpsertSink, "_fold_stats", "stats.fold")
        self.wrap(upsert.ParquetUpsertSink, "_publish_stats", "stats.publish")
        self.wrap(stats.CloneHistogram, "merge_batch", "stats.merge_batch")
        self.wrap(stats.KeyHistogram, "merge_batch", "stats.merge_batch")
        self.wrap(stats.StatsRegistry, "key_share", "stats.key_share")
        self.wrap(state.BookmarkManager, "load", "state.load")
        self.wrap(state.BookmarkManager, "save", "state.save")
        self.wrap(views.ViewRegistry, "materialize", "views.materialize")

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()


# -- event log -----------------------------------------------------------------

TASK_FIELDS = {
    "run_s": ("Executor Run Time", 1e-3),
    "cpu_s": ("Executor CPU Time", 1e-9),
    "gc_s": ("JVM GC Time", 1e-3),
}


def _task_metrics(tm: dict) -> dict[str, float]:
    out = {k: tm.get(src, 0) * scale for k, (src, scale) in TASK_FIELDS.items()}
    inp = tm.get("Input Metrics", {})
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    outm = tm.get("Output Metrics", {})
    out["scan_bytes"] = inp.get("Bytes Read", 0)
    out["shuffle_read_bytes"] = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    out["shuffle_write_bytes"] = sw.get("Shuffle Bytes Written", 0)
    out["spill_bytes"] = tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    out["out_bytes"] = outm.get("Bytes Written", 0)
    out["out_records"] = outm.get("Records Written", 0)
    out["peak_exec_mem_bytes"] = tm.get("Peak Execution Memory", 0)
    return out


SUMMED = ["run_s", "cpu_s", "gc_s", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes", "out_bytes", "out_records"]


def read_event_log(log_dir: Path) -> tuple[dict, dict]:
    """``(jobs, stages)`` from every event-log file under ``log_dir``.

    jobs: id -> {submit, end, span, stages}; stages: id -> {span, tasks,
    <summed task metrics>, peak_exec_mem_bytes}.  Times are epoch seconds.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = [f for f in Path(log_dir).rglob("*") if f.is_file() and f.name.startswith("events_")]
    for f in sorted(files, key=lambda f: int(f.name.split("_")[1])):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0,
                                          "end": None, "span": _int(props.get(PROP)),
                                          "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    st = stages.setdefault(sid, _empty_stage())
                    st["span"] = _int(props.get(PROP))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    st["tasks"] += 1
                    tm = _task_metrics(ev.get("Task Metrics") or {})
                    for k in SUMMED:
                        st[k] += tm[k]
                    st["peak_exec_mem_bytes"] = max(st["peak_exec_mem_bytes"],
                                                    tm["peak_exec_mem_bytes"])
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return jobs, stages


def _int(v) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _empty_stage() -> dict:
    return {"span": None, "tasks": 0, "peak_exec_mem_bytes": 0, **{k: 0.0 for k in SUMMED}}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Reduced:
    """Spans joined with the jobs and stages they launched."""

    def __init__(self, spans: list[dict], jobs: dict, stages: dict) -> None:
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        for s in spans:
            s["jobs"], s["stage_ids"] = [], []
        stage_owner: dict[int, int] = {}
        for jid, j in sorted(jobs.items()):
            sid = j["span"] if j["span"] in self.spans else self._by_time(j["submit"])
            if sid is not None:
                self.spans[sid]["jobs"].append(jid)
                for st in j["stages"]:
                    stage_owner.setdefault(st, sid)
        for st_id, st in stages.items():
            sid = st["span"] if st["span"] in self.spans else stage_owner.get(st_id)
            if sid is not None:
                self.spans[sid]["stage_ids"].append(st_id)
        self.jobs, self.stages = jobs, stages

    def _depth(self, s: dict) -> int:
        d = 0
        while s["parent"] is not None and s["parent"] in self.spans:
            s, d = self.spans[s["parent"]], d + 1
        return d

    def _by_time(self, t: float) -> int | None:
        """Innermost span open at time ``t`` (untagged jobs)."""
        best = None
        for s in self.spans.values():
            if s["start"] <= t <= s["end"]:
                key = (self._depth(s), s["start"])
                if best is None or key > best[0]:
                    best = (key, s["id"])
        return best[1] if best else None

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def wall(self, span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        kids = self.children.get(span["id"], [])
        return max(0.0, self.wall(span) - _union([(k["start"], k["end"]) for k in kids]))

    def exec_of(self, spans: list[dict]) -> dict[str, float]:
        """Execution figures of the jobs and stages owned by ``spans``."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "peak_exec_mem_bytes": 0,
               **{k: 0.0 for k in SUMMED}}
        for s in spans:
            out["jobs"] += len(s["jobs"])
            for st_id in s["stage_ids"]:
                st = self.stages[st_id]
                if st["tasks"] == 0:
                    continue  # skipped (reused) stage
                out["stages"] += 1
                out["tasks"] += st["tasks"]
                for k in SUMMED:
                    out[k] += st[k]
                out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                                 st["peak_exec_mem_bytes"])
        return out

    def driver_gap(self, span: dict) -> float:
        """Wall time of ``span`` not covered by any job its subtree ran."""
        iv = [(self.jobs[j]["submit"], self.jobs[j]["end"])
              for s in self.subtree(span) for j in s["jobs"]]
        iv = [(max(a, span["start"]), min(b, span["end"])) for a, b in iv if b > a]
        return max(0.0, self.wall(span) - _union(iv))

    def covered(self, span: dict) -> float:
        """Share of ``span``'s wall time spent inside any layer span below it."""
        iv = [(s["start"], s["end"]) for s in self.subtree(span)
              if s is not span and not s["name"].startswith("phase.")]
        w = self.wall(span)
        return _union(iv) / w if w > 0 else 0.0

    def layer_rows(self, roots: list[dict]) -> dict[str, dict]:
        """Per span name under ``roots``: calls, wall, self time, execution."""
        rows: dict[str, dict] = {}
        for root in roots:
            for s in self.subtree(root):
                r = rows.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                                "driver_gap_s": 0.0, "_spans": []})
                r["calls"] += 1
                r["wall_s"] += self.wall(s)
                r["self_s"] += self.self_time(s)
                r["driver_gap_s"] += self.driver_gap(s)
                r["_spans"].append(s)
        for r in rows.values():
            r.update(self.exec_of(r.pop("_spans")))
        return rows


def format_table(rows: dict[str, dict], units: int) -> str:
    """Text rendering of ``layer_rows`` (figures per unit of the loop)."""
    cols = ["calls", "wall_s", "self_s", "driver_gap_s", "jobs", "stages", "tasks", "run_s",
            "cpu_s", "gc_s", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "peak_exec_mem_bytes"]
    head = f"{'span':<28}" + "".join(f"{c[:12]:>13}" for c in cols)
    lines = [f"per-layer table (per unit, {units} units)", head]
    for name in sorted(rows):
        r = rows[name]
        vals = [r[c] if c == "peak_exec_mem_bytes" else r[c] / max(units, 1) for c in cols]
        lines.append(f"{name:<28}" + "".join(f"{v:>13.4g}" for v in vals))
    return "\n".join(lines)
