"""Summarise the run records in ``.perfbench_out/``.

    python3 perfbench/report.py [--since UNIX_TIME]

For each workload it prints, per end-to-end metric of the untraced runs,
the run count, the median and the spread: the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median. It also prints the tracing overhead: the median ``run_s`` of
the traced runs against that of the untraced runs.
"""

from __future__ import annotations

import argparse
import json
import statistics
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    ap = argparse.ArgumentParser(prog="perfbench-report")
    ap.add_argument("--since", type=float, default=0.0, help="skip records older than this unix time")
    args = ap.parse_args()
    runs: dict[tuple[str, int], list[dict]] = {}
    for f in sorted((ROOT / ".perfbench_out").glob("*.json")):
        if f.stat().st_mtime < args.since:
            continue
        d = json.loads(f.read_text())
        runs.setdefault((d["summary"]["workload"], d["trace"]), []).append(d)
    for workload in sorted({w for w, _ in runs}):
        untraced, traced = runs.get((workload, 0), []), runs.get((workload, 1), [])
        print(f"{workload}: {len(untraced)} untraced, {len(traced)} traced runs")
        if len(untraced) >= 2:
            for name in untraced[0]["metrics"]:
                vals = [d["metrics"][name]["value"] for d in untraced]
                print(f"  {name:16s} median {statistics.median(vals):10.3f}  spread {spread(vals):6.3f}")
        failed = sum(d["summary"]["error_rate"] > 0 for d in untraced + traced)
        print(f"  runs with a failed operation: {failed}")
        if untraced and traced:
            base = statistics.median(d["run_s"] for d in untraced)
            with_trace = statistics.median(d["run_s"] for d in traced)
            print(f"  tracing overhead on run_s: {with_trace - base:+.2f} s ({with_trace / base - 1:+.1%})")


if __name__ == "__main__":
    main()
