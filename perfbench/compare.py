"""Compare two sets of benchmark results.

    python3 perfbench/compare.py OLD NEW [--workload NAME]

OLD and NEW are directories (searched recursively) or files holding the
JSON records that ``perfbench/run.py`` writes to ``.perfbench_out/``.
Run both sides with the same benchmark code, settings and seeds,
alternating which side runs first.

For each workload and metric it prints each side's median and
quartiles, the pairs the new side won (runs paired by seed, ties count
for neither), and a verdict:

* ``better``: the new side wins at least nine tenths of the pairs and
  the medians differ by more than the old side's quartile spread;
* ``worse``: the new median is worse than the old one by more than the
  metric's bound in BENCHMARK.json;
* ``within bound``: neither, and the old side's spread is within the
  bound, so the metric is no worse than the bound allows;
* ``unresolved``: the old side's spread is wider than the bound, or the
  metric has no bound and the difference is not clear-cut.

Untraced runs give the end-to-end metrics and the per-workload
details; traced runs give the per-layer metrics, which have no bound,
and the details that untraced runs do not record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(d, f) for d, _, fs in os.walk(p)
                      for f in fs if f.endswith(".json")]
        else:
            files.append(p)
    out = []
    for f in sorted(files):
        with open(f) as fh:
            rec = json.load(fh)
        if isinstance(rec, dict) and "workload" in rec:
            out.append(rec)
    return out


def series(records: list[dict]) -> dict:
    """(workload, metric) -> {seed: value}, the first run per seed.
    Untraced runs give the end-to-end metrics and details; traced runs
    give the per-layer metrics and the details only they record (the
    batch job's ``etl_records_per_s`` and ``dedup_docs_per_s``)."""
    out = defaultdict(dict)
    untraced = {(r["workload"], k) for r in records if not r["trace"]
                for g in ("end_to_end", "details") for k in r.get(g, {})}
    for r in records:
        groups = (("per_layer", "details") if r["trace"]
                  else ("end_to_end", "details"))
        for g in groups:
            for k, v in r.get(g, {}).items():
                key = (r["workload"], k)
                if r["trace"] and g == "details" and key in untraced:
                    continue
                out[key].setdefault(r["seed"], v)
    return out


def quartiles(v: list[float]) -> tuple[float, float]:
    if len(v) < 2:
        return v[0], v[0]
    q = quantiles(v, n=4)
    return q[0], q[2]


def verdict(old: dict, new: dict, better: str, bound: float | None):
    a, b = list(old.values()), list(new.values())
    ma, mb = median(a), median(b)
    q1, q3 = quartiles(a)
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(old) & set(new))
    pairs = (list(zip((old[s] for s in seeds), (new[s] for s in seeds)))
             if seeds else list(zip(a, b)))
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    losses = sum(sign * (y - x) < 0 for x, y in pairs)
    clear = abs(mb - ma) > (q3 - q1)
    if pairs and wins >= 0.9 * len(pairs) and clear:
        v = "better"
    elif bound is None:
        v = ("worse" if pairs and losses >= 0.9 * len(pairs) and clear
             else "unresolved")
    elif ma and (q3 - q1) / abs(ma) > bound:
        v = "unresolved"
    elif ma and sign * (mb - ma) / abs(ma) < -bound:
        v = "worse"
    else:
        v = "within bound"
    return ma, (q1, q3), mb, quartiles(b), wins, len(pairs), v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--workload")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    old = series(load([args.old]))
    new = series(load([args.new]))
    keys = sorted(k for k in old.keys() & new.keys()
                  if args.workload in (None, k[0]))
    if not keys:
        print("no workload and metric present on both sides",
              file=sys.stderr)
        return 2
    print(f"{'workload':16} {'metric':28} {'old median [q1, q3]':>30} "
          f"{'new median [q1, q3]':>30} {'won':>7}  verdict")
    for w, m in keys:
        if not any(old[(w, m)].values()) and not any(new[(w, m)].values()):
            continue  # a layer this workload does not reach
        s = spec.get(m, {})
        better = s.get("better", "higher" if m.endswith("_per_s")
                       else "lower")
        ma, qa, mb, qb, wins, n, v = verdict(old[(w, m)], new[(w, m)],
                                             better, s.get("bound"))
        print(f"{w:16} {m:28} {ma:12.5g} [{qa[0]:.5g}, {qa[1]:.5g}]"
              f"{'':>2} {mb:12.5g} [{qb[0]:.5g}, {qb[1]:.5g}]"
              f"{wins:>4}/{n:<3} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
