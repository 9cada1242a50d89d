"""Compare two result sets of perfbench/run.py, metric by metric.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are ``.perfbench/results`` directories (or single
``<workload>.jsonl`` files) of two checkouts. Runs are paired in the
order they were made, so alternate which side runs first. Untraced runs
only. For each workload and end-to-end metric it prints both sides'
median and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict:

* gain           -- the change wins >= 90% of pairs and the medians differ
                    by more than the parent's quartile distance;
* regression     -- the change's median is worse than the parent's by
                    more than the metric's bound, with spreads within it;
* unresolved     -- a spread is wider than the bound, unless every run of
                    the change reads better than every run of the parent;
* no-regression  -- otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.summary import quartiles  # noqa: E402


def load(path: Path) -> dict[str, list[dict]]:
    files = sorted(path.glob("*.jsonl")) if path.is_dir() else [path]
    runs: dict[str, list[dict]] = defaultdict(list)
    for f in files:
        for line in f.read_text().splitlines():
            rec = json.loads(line)
            if not rec["trace"]:
                runs[rec["workload"]].append(rec)
    return runs


def verdict(a: list[float], b: list[float], lower_better: bool, bound: float):
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if lower_better else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    share = wins / len(pairs) if pairs else 0.0
    worse = sign * (qb[1] - qa[1]) / qa[1]
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    if share >= 0.9 and worse < 0 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    else:
        v = "no-regression"
    return qa, qb, share, len(pairs), v


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", type=Path)
    p.add_argument("change", type=Path)
    p.add_argument("--benchmark", type=Path,
                   default=Path(__file__).resolve().parent.parent / "BENCHMARK.json")
    args = p.parse_args(argv)
    metrics = json.loads(args.benchmark.read_text())["end_to_end"]
    a_runs, b_runs = load(args.parent), load(args.change)
    fmt = "{:<16} {:<15} {:>28} {:>28} {:>11} {}"
    print(fmt.format("workload", "metric", "parent q1/median/q3",
                     "change q1/median/q3", "pairs won", "verdict"))
    for wl in sorted(set(a_runs) & set(b_runs)):
        for m in metrics:
            a = [r["metrics"][m["name"]]["value"] for r in a_runs[wl]]
            b = [r["metrics"][m["name"]]["value"] for r in b_runs[wl]]
            qa, qb, share, n, v = verdict(a, b, m["better"] == "lower", m["bound"])
            print(fmt.format(
                wl, m["name"],
                "/".join(f"{x:.4g}" for x in qa),
                "/".join(f"{x:.4g}" for x in qb),
                f"{share:.0%} of {n}", v,
            ))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
