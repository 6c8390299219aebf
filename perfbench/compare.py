"""Summarise or compare benchmark records from ``perfbench/out``.

    python3 perfbench/compare.py RECORD.json ...
    python3 perfbench/compare.py BASE.json ... -- NEW.json ...

With one group, prints for every end-to-end metric (and every
per-layer metric of traced records) the median over the records and
the spread: the distance between the first and third quartile as a
share of the median. With two groups, also prints the new median as a
share of the base median and flags metrics that got worse by more
than their ``BENCHMARK.json`` bound.

Records of different workloads or trace settings, or from hosts with
a different ``nproc``, are refused: numbers from different core
counts are not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _values(records: list[dict], name: str) -> list[float]:
    return [
        float(r[k][name]) for r in records for k in ("e2e", "layers")
        if name in r.get(k, {})
    ]


def _spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    if "--" in argv:
        i = argv.index("--")
        groups = [_load(argv[:i]), _load(argv[i + 1:])]
    else:
        groups = [_load(argv)]
    records = [r for g in groups for r in g]
    if not all(groups):
        print("refused: an empty group", file=sys.stderr)
        return 2
    kinds = {(r["workload"], r["trace"], r["host"]["nproc"]) for r in records}
    if len(kinds) != 1:
        print(f"refused: records mix (workload, trace, nproc) = {sorted(kinds)}",
              file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"] + spec["per_layer"]
    workload, trace, nproc = kinds.pop()
    print(f"workload={workload} trace={trace} nproc={nproc} "
          f"records={[len(g) for g in groups]}")
    worse = []
    for m in metrics:
        cols = [_values(g, m["name"]) for g in groups]
        if not all(cols):
            continue
        line = f"{m['name']:28s} {m['unit']:6s}"
        for xs in cols:
            line += f" median={statistics.median(xs):<12.5g} spread={_spread(xs):.3f}"
        if len(cols) == 2 and statistics.median(cols[0]):
            ratio = statistics.median(cols[1]) / statistics.median(cols[0])
            line += f" new/base={ratio:.3f}"
            bound = m.get("bound")
            if bound is not None:
                lost = ratio - 1 if m["better"] == "lower" else 1 - ratio
                if lost > bound:
                    worse.append(m["name"])
                    line += f"  WORSE than bound {bound}"
        print(line)
    if worse:
        print(f"worse than bound: {worse}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
