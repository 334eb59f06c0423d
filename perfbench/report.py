"""Summarize the run log: the load each run ran under, per workload.

    python3 perfbench/report.py [.bench_build/perfbench/runs.jsonl]

Every run of ``run.py`` appends one record (workload, seed, 1-minute load
average at start and end, CPU steal over the run, run and phase times,
failures). This prints the median and quartiles of each over the runs of
each workload, so a reading can be judged against the load it ran under.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

FIELDS = ("load_1m_start", "load_1m_end", "steal_pct", "run_s")


def summarize(records: list[dict]) -> dict[str, dict[str, tuple[float, float, float]]]:
    """workload -> field -> (first quartile, median, third quartile)."""
    by_workload: dict[str, list[dict]] = {}
    for rec in records:
        by_workload.setdefault(rec["workload"], []).append(rec)
    out = {}
    for workload, recs in sorted(by_workload.items()):
        out[workload] = {}
        for field in FIELDS:
            vals = [r[field] for r in recs]
            if len(vals) == 1:
                out[workload][field] = (vals[0], vals[0], vals[0])
            else:
                q1, med, q3 = statistics.quantiles(vals, n=4)
                out[workload][field] = (q1, med, q3)
    return out


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build", "perfbench", "runs.jsonl")
    with open(path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    for workload, fields in summarize(records).items():
        n = sum(1 for r in records if r["workload"] == workload)
        failed = sum(1 for r in records if r["workload"] == workload and r["failures"])
        print(f"{workload}: {n} runs, {failed} with failures")
        for field, (q1, med, q3) in fields.items():
            print(f"  {field:14s} median {med:8.3f}  quartiles {q1:8.3f} .. {q3:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
