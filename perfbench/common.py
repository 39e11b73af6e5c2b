"""Shared harness pieces: session lifecycle, job counting, memory, results."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

PACKAGE = "pubic_multi_platform_to_postgres_spark"


def cpus() -> int:
    """Spark runs at ``local[N]`` with N = min(4, usable cores)."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        n = os.cpu_count() or 1
    return max(1, min(4, n))


@dataclass
class Ctx:
    """Per-run state every workload needs."""

    root: Path          # checkout root (the program lives here)
    work: Path          # scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    corrupt: bool = False  # self-test: perturb the expected state
    spark: object = None
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> bool:
        """One output check; a failed one is logged to stderr."""
        if not ok:
            log(f"CHECK FAILED: {what}")
        return ok


def session_conf(ctx: Ctx, event_log: Path | None = None) -> dict[str, str]:
    local = ctx.work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.resolve().as_uri(),
            "spark.eventLog.compress": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


def start_session(ctx: Ctx, event_log: Path | None = None):
    """Start the engine's session through its own factory."""
    from pubic_multi_platform_to_postgres_spark.session import get_session

    ctx.spark = get_session(
        app_name="perfbench", master=f"local[{cpus()}]",
        extra_conf=session_conf(ctx, event_log),
    )
    return ctx.spark


def shutdown(ctx: Ctx) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, not left behind
            proc.kill()
            proc.wait()


def last_job_id(spark) -> int:
    """Highest job id the status tracker knows (-1 before any job).

    Job ids are assigned from one counter per SparkContext, whichever
    thread submits the job, so the delta of this value across a phase
    counts the jobs of ``Pipeline``'s worker threads too (a per-thread job
    group would see only the caller's own jobs).
    """
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class JobCounter:
    """``with JobCounter(spark) as jc: ...; jc.jobs``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jobs = 0

    def __enter__(self):
        self._start = last_job_id(self.spark)
        return self

    def __exit__(self, *exc):
        self.jobs = last_job_id(self.spark) - self._start


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Driver JVM plus Python peak resident set, from ``VmHWM``."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def du(*paths: Path) -> int:
    """Bytes of the regular files under ``paths``."""
    total = 0
    for p in paths:
        if p.is_file():
            total += p.stat().st_size
        elif p.is_dir():
            total += sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return total


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0


def fresh_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


def run_setup(ctx: Ctx, warm_up, event_log: Path | None = None) -> float:
    """``setup_s``: a cold session start (the JVM launch) plus one warm-up
    pass, timed once per run."""
    with Timer() as t:
        start_session(ctx, event_log)
        warm_up()
    return t.s


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
