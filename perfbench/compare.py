"""Summarize run records: medians and quartiles of the end-to-end
metrics per workload, the pooled per-operation latency median and tail
(the highest percentile with ten samples beyond it), and tracing
overhead (traced median minus untraced median of each end-to-end metric).

    python3 perfbench/compare.py [RECORD_DIR]   # default .perfbench_records

Records taken at different ``cpus`` are never pooled or compared: the
script refuses and exits 2.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import tail_percentile  # noqa: E402


def load(record_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(record_dir, "*.json"))):
        if path.endswith(".spans.json"):
            continue
        with open(path) as f:
            out.append(json.load(f))
    return out


def summarize(records: list[dict]) -> list[str]:
    cpus = {r["cpus"] for r in records}
    if len(cpus) > 1:
        raise ValueError(f"records taken at different cpus {sorted(cpus)}; compare one at a time")
    lines = []
    groups: dict[tuple, list[dict]] = collections.defaultdict(list)
    for r in records:
        groups[(r["workload"], r["trace"])].append(r)
    for (workload, trace), rs in sorted(groups.items()):
        steal = statistics.median(r["steal_pct"] for r in rs)
        lines.append(f"{workload} trace={trace} runs={len(rs)} cpus={rs[0]['cpus']} steal%={steal:.2f}")
        for k in sorted(rs[0]["e2e"]):
            vs = [r["e2e"][k] for r in rs if k in r["e2e"]]
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            line = f"  {k:14s} median={med:.4f} q1={q[0]:.4f} q3={q[2]:.4f} iqr/median={spread:.3f}"
            if trace == 1 and (workload, 0) in groups:
                base = statistics.median(
                    r["e2e"][k] for r in groups[(workload, 0)] if k in r["e2e"]
                )
                line += f" tracing_overhead={med - base:+.4f}"
            lines.append(line)
        lat = [dt for r in rs for _n, p, dt in r["latencies"] if p > 0]
        if lat:
            line = f"  op latency over {len(lat)} warm ops: p50={statistics.median(lat):.4f}s"
            tail = tail_percentile(lat)
            if tail:
                line += f" p{tail[0]}={tail[1]:.4f}s"
            lines.append(line)
    return lines


def main(argv: list[str]) -> int:
    record_dir = argv[1] if len(argv) > 1 else ".perfbench_records"
    try:
        for line in summarize(load(record_dir)):
            print(line)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
