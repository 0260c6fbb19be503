#!/usr/bin/env python3
"""Run the benchmark over several seeds and print every end-to-end
metric of every workload by name and unit, with its spread.

    python3 perfbench/report.py --seeds 1-10 [--workload NAME ...]

Each run is a fresh ``perfbench/run.py`` process. For each metric the
line shows the median, the first and third quartiles, the spread
(quartile distance as a share of the median, as ``statistics.quantiles``
gives them) and the bound from BENCHMARK.json. ``failed_frac`` is the
share of timed executions that raised or belong to a query whose rows
differed from its DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=HERE.parent)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in BENCH["workloads"]])
    args = ap.parse_args()
    for workload in args.workload or [w["name"] for w in BENCH["workloads"]]:
        results = [run_once(workload, s) for s in seeds(args.seeds)]
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        print(f"{workload}: {len(results)} runs, failed_frac {failed / attempted:.4f} "
              f"({failed}/{attempted}), all correct: {all(r['correct'] for r in results)}")
        for m in BENCH["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            print(f"  {m['name']:22s} {med:12.4f} {m['unit']:6s} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {(q3 - q1) / med:.3f} bound {m['bound']}")


if __name__ == "__main__":
    main()
