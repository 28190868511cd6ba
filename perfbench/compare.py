"""A/B comparison of two sets of benchmark runs.

Usage (from the repository root)::

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds result records as ``run.py`` appends them to
``.perfbench_work/results.jsonl`` (copy the lines of each side into its own
file). Untraced records only. Record i of one side is paired with record i of
the other side of the same workload, so run the two sides alternately.

For every workload and every end-to-end metric of ``BENCHMARK.json``, plus
the recorded but ungated ``pass_s``, ``first_pass_s`` and ``peak_rss_mb``, it prints
each side's median and quartiles, the fraction of pairs the change
wins (ties count for neither side) and a verdict:

- ``gain``: the change wins at least 9 in 10 pairs and the medians differ by
  more than the parent's quartile distance;
- ``regression``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: either side's quartile distance exceeds the bound relative
  to its median, unless every run of the change beats every run of the parent;
- ``within bound`` otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Recorded by every run but too noisy between runs to carry a bound.
UNGATED = ("pass_s", "first_pass_s", "peak_rss_mb")


def load(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                if rec["trace"] == 0:
                    by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(a: list[float], b: list[float], bound: float | None, lower_better: bool) -> tuple[str, float]:
    """Verdict and the change's win fraction; a metric without a bound
    (recorded but not gated) can only read ``gain`` or ``not gated``."""
    sign = 1.0 if lower_better else -1.0
    qa, qb = quartiles(a), quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    worse = sign * (qb[1] - qa[1]) / qa[1]
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    all_better = all(sign * (x - y) > 0 for x in a for y in b)
    if bound is None:
        gain = win_frac >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0]
        return ("gain" if gain else "not gated"), win_frac
    if spread > bound and not all_better:
        return "unresolved", win_frac
    if win_frac >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        return "gain", win_frac
    if worse > bound:
        return "regression", win_frac
    return "within bound", win_frac


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    names = {m["name"] for m in metrics}
    metrics += [{"name": n, "bound": None, "better": "lower"} for n in UNGATED if n not in names]
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':<18} {'metric':<14} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'n':>5} {'wins':>5}  verdict")
    for workload in sorted(set(parent) & set(change)):
        pa, ch = parent[workload], change[workload]
        for m in metrics:
            a = [r["metrics"][m["name"]] for r in pa]
            b = [r["metrics"][m["name"]] for r in ch]
            v, win = verdict(a, b, m["bound"], m["better"] == "lower")
            qa = "/".join(f"{x:.3f}" for x in quartiles(a))
            qb = "/".join(f"{x:.3f}" for x in quartiles(b))
            print(f"{workload:<18} {m['name']:<14} {qa:>28} {qb:>28} "
                  f"{min(len(a), len(b)):>5} {win:>5.2f}  {v}")
    missing = set(parent) ^ set(change)
    if missing:
        print(f"workloads on one side only: {sorted(missing)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
