#!/usr/bin/env python3
"""Compare two sets of benchmark results, or two traces.

    python3 perfbench/compare.py OLD.jsonl NEW.jsonl
    python3 perfbench/compare.py OLD_TRACE.json NEW_TRACE.json

A result set is the file that ``run.py --out FILE`` appends one JSON line to
per run.  For every workload and metric it prints each side's median and
quartiles, the change of the median, how many (old, new) run pairs the new
side won (runs paired in file order; ties count for neither), and the old
side's own spread (quartile distance over median) next to the metric's
bound from BENCHMARK.json.  A trace is the file a ``--trace 1`` run writes
under .perfbench/traces/; for two traces it prints the per-layer metric
deltas and the self time per span name and traced pass.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import quartiles, spread  # noqa: E402


def pairs_won(old: list[float], new: list[float], lower_is_better: bool) -> tuple[int, int]:
    """(pairs the new side won, pairs compared), pairing runs in order."""
    n = min(len(old), len(new))
    wins = sum(1 for a, b in zip(old, new) if (b < a if lower_is_better else b > a))
    return wins, n


def _bench_spec() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def _load_results(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                by_workload[rec["workload"]].append(rec)
    return by_workload


def compare_results(old_path: str, new_path: str) -> None:
    spec = _bench_spec()
    old, new = _load_results(old_path), _load_results(new_path)
    for wl in sorted(old.keys() & new.keys()):
        for traced in (0, 1):
            a = [r for r in old[wl] if r["trace"] == traced]
            b = [r for r in new[wl] if r["trace"] == traced]
            if not a or not b:
                continue
            fails = [(sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)) for rs in (a, b)]
            print(f"== {wl} ({'traced' if traced else 'untraced'}): {len(a)} vs {len(b)} runs, "
                  f"failed/attempted {fails[0][0]}/{fails[0][1]} vs {fails[1][0]}/{fails[1][1]}")
            print(f"{'metric':28} {'old median [q1, q3]':>30} {'new median [q1, q3]':>30} {'change':>8} {'won':>6} {'old spread':>10} {'bound':>6}")
            for name in sorted(a[0]["metrics"]):
                xs = [r["metrics"][name]["value"] for r in a if name in r["metrics"]]
                ys = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
                if not xs or not ys:
                    continue
                m = spec.get(name, {})
                lower = m.get("better", "lower") == "lower"
                (q1a, ma, q3a), (q1b, mb, q3b) = quartiles(xs), quartiles(ys)
                change = (mb - ma) / ma if ma else float("nan")
                won, n = pairs_won(xs, ys, lower)
                bound = m.get("bound")
                worse = change > bound if lower else -change > bound
                flag = "  worse than bound" if bound is not None and worse else ""
                print(f"{name:28} {ma:12.4g} [{q1a:.4g}, {q3a:.4g}]".ljust(59)
                      + f" {mb:12.4g} [{q1b:.4g}, {q3b:.4g}]".ljust(31)
                      + f" {change:+8.1%} {won:>3}/{n:<2} {spread(xs):10.1%} "
                      + (f"{bound:6.2f}" if bound is not None else "     -") + flag)


def _self_times(doc: dict) -> dict[str, float]:
    """Self time per span name, per traced pass."""
    spans = doc["spans"]
    child = [0.0] * len(spans)
    for name, start, end, parent in spans:
        if parent >= 0:
            child[parent] += end - start
    entries = [s[0] for s in spans if s[0].startswith("entry:")]
    passes = len(entries) / max(1, len(set(entries)))
    out: dict[str, float] = defaultdict(float)
    for i, (name, start, end, _) in enumerate(spans):
        key = "entry" if name.startswith("entry:") else name
        out[key] += (end - start - child[i]) / passes
    return out


def compare_traces(old_path: str, new_path: str) -> None:
    with open(old_path) as f:
        a = json.load(f)
    with open(new_path) as f:
        b = json.load(f)
    print(f"== per-layer metrics: {a['workload']} seed {a['seed']} vs {b['workload']} seed {b['seed']}")
    for name in sorted(a["metrics"].keys() | b["metrics"].keys()):
        x, y = a["metrics"].get(name, 0.0), b["metrics"].get(name, 0.0)
        rel = f"{(y - x) / x:+8.1%}" if x else "       -"
        print(f"{name:28} {x:14.4f} {y:14.4f} {y - x:+14.4f} {rel}")
    print("== self time per traced pass (s), by span")
    sa, sb = _self_times(a), _self_times(b)
    for name in sorted(sa.keys() | sb.keys(), key=lambda k: -max(sa.get(k, 0), sb.get(k, 0))):
        x, y = sa.get(name, 0.0), sb.get(name, 0.0)
        print(f"{name:48} {x:10.4f} {y:10.4f} {y - x:+10.4f}")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        first = f.read(1 << 16).lstrip()
    is_trace = first.startswith("{") and '"spans"' in first.split("\n", 1)[0]
    (compare_traces if is_trace else compare_results)(*argv)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
