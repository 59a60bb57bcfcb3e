"""Steadiness record: run every workload on several seeds and report the
spread of each end-to-end metric, with host steal beside each run.

Usage (from the repository root)::

    python3 perfbench/steadiness.py --seeds 101-110 [--workloads ingest curation] \\
        [--out record.json]

For each workload and metric it prints the median and the quartile spread
``(Q3 - Q1) / median`` over the seeds (``statistics.quantiles(v, n=4)``),
the rule by which ``BENCHMARK.json`` bounds are checked.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t = time.monotonic()
    p = subprocess.run(
        [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "exit": p.returncode, "stderr_tail": p.stderr[-2000:]}
    info, final = json.loads(lines[-2]), json.loads(lines[-1])
    return {"seed": seed, "exit": 0, "run_wall_s": time.monotonic() - t, **info, **final}


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="a-b range, inclusive")
    ap.add_argument("--workloads", nargs="+", default=["ingest", "curation"])
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    with open(f"{ROOT}/BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    record = {}
    for w in a.workloads:
        runs = []
        for seed in range(lo, hi + 1):
            r = one_run(w, seed, seconds)
            runs.append(r)
            vals = {k: round(v["value"], 3) for k, v in r.get("metrics", {}).items()}
            print(w, seed, vals, "steal_s", round(r.get("host_steal_s", -1), 1),
                  "correct", r.get("correct"), "wall", round(r.get("run_wall_s", 0), 1), flush=True)
        ok = [r for r in runs if r["exit"] == 0]
        summary = {}
        for m in (ok[0]["metrics"] if ok else {}):
            med, sp = spread([r["metrics"][m]["value"] for r in ok])
            summary[m] = {"median": med, "spread": sp}
            print(f"  {w:9s} {m:14s} median {med:12.3f}  spread {sp:.3f}", flush=True)
        record[w] = {"runs": runs, "summary": summary}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
