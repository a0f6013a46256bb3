"""Summarize the run records under ``.perfbench/traces/``.

    python3 perfbench/summary.py

For every workload, over its untraced runs (one record per seed): the
median of each end-to-end metric and of the workload's own figures, and
the spread, the distance between the first and third quartile as a share
of the median. Where traced runs exist too, the tracing overhead: the
traced median of ``pass_s``, ``query_geomean_s``, ``meta_build_s`` and
``admit_batch_s_p50`` against the untraced one.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TRACED = ("pass_s", "query_geomean_s", "meta_build_s", "admit_batch_s_p50")


def _spread(values: list[float]) -> float:
    median = statistics.median(values)
    if len(values) < 2 or median == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median


def main() -> int:
    # workload -> trace flag -> figure -> values
    runs: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for path in sorted((ROOT / ".perfbench" / "traces").glob("*.json")):
        rec = json.loads(path.read_text())
        for name, value in {**rec["end_to_end"], **rec["details"]}.items():
            runs[rec["workload"]][rec["trace"]][name].append(value)
    for workload, by_trace in sorted(runs.items()):
        for name, values in by_trace[0].items():
            print(json.dumps({
                "workload": workload, "figure": name, "runs": len(values),
                "median": statistics.median(values), "spread": _spread(values),
            }))
        for name in TRACED:
            untraced, traced = by_trace[0].get(name), by_trace[1].get(name)
            if untraced and traced:
                a, b = statistics.median(untraced), statistics.median(traced)
                print(json.dumps({
                    "workload": workload, "figure": name, "tracing_overhead": (b - a) / a,
                    "untraced": a, "traced": b, "runs": [len(untraced), len(traced)],
                }))
    return 0 if runs else 1


if __name__ == "__main__":
    sys.exit(main())
