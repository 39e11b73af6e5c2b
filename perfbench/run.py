#!/usr/bin/env python3
"""End-to-end benchmark of the engine: sync cycles and an analytics mix.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sync_saas --seed 1 --seconds 10 --trace 0

Workloads: ``sync_saas``, ``analytics_mix`` (see
``perfbench/README.md``).  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (and
the per-layer table is written under ``.perfbench_work/traces/``).
Everything the run writes stays under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sync_saas", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs (perfbench/selftest.py): shrink the inputs, corrupt
    # the expected state
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    from common import PACKAGE, Ctx, cpus, shutdown

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # before pyspark starts any process: every scratch file stays in the
    # checkout, and the catalog runs its production (bench-mode) branches
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the spark-submit launcher too): no /tmp/hsperfdata, and
    # native libraries unpack under the run's own temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}"]))
    os.environ["SPARK_GRAFT_BENCH"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[1:1] = [str(ROOT), str(ROOT / "tests")]

    ctx = Ctx(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), corrupt=args.corrupt)
    try:
        metrics = run_workload(args.workload, ctx, args.scale)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_workload(name: str, ctx, scale: float = 1.0) -> dict[str, tuple[float, str]]:
    import workload
    from wl_mix import AnalyticsMix
    from wl_sync import SyncSaas

    wl = {"sync_saas": SyncSaas, "analytics_mix": AnalyticsMix}[name]()
    wl.scale = scale
    return workload.execute(wl, ctx)


if __name__ == "__main__":
    sys.exit(main())
