#!/usr/bin/env python3
"""Self-test of the benchmark on the smallest inputs.

For every workload, at a tiny scale (sf0.001-sized tables, a few hundred
API records) and one second of measuring:

- an untraced run prints every end-to-end metric of ``BENCHMARK.json`` with
  its unit, and a traced run every per-layer metric; both report no failed
  operation;
- a run whose expected state is deliberately corrupted reports
  ``correct: false`` and a non-zero ``failed`` count;
- ``BENCHMARK.json`` records, for each workload, why it was chosen, its
  loop type and client count, its input size against the 8 GB driver
  memory, and that the inputs come from ``--seed``.

Usage: ``python3 perfbench/selftest.py`` from the repository root; exit
code 0 when every check holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY = "0.01"


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", TINY]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in bench["workloads"]:
        why = w["why"]
        expect(all(s in why for s in ("closed loop", "1 client", "8 GB", "--seed")),
               f"{w['name']}: why records loop, clients, size vs 8 GB and seed: {why!r}")
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            got = res["metrics"]
            for m in bench[key]:
                expect(m["name"] in got and got[m["name"]]["unit"] == m["unit"]
                       and isinstance(got[m["name"]]["value"], (int, float)),
                       f"{name} trace={trace}: {m['name']} printed in {m['unit']}")
            expect(set(got) == {m["name"] for m in bench[key]},
                   f"{name} trace={trace}: no metric beyond {key}")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace={trace}: all {res['attempted']} operations correct")
        res = run(name, 0, corrupt=True)
        expect(not res["correct"] and res["failed"] > 0,
               f"{name}: corrupted expected state caught ({res['failed']}/{res['attempted']} failed)")
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
