#!/usr/bin/env python3
"""Compare two result sets of the graft benchmark.

    python3 perfbench/diff.py <set A> <set B>

A result set is a directory of run artifacts as written by
`perfbench/run.py --results-dir <dir>` (one JSON file per workload, seed
and trace mode). For every workload and metric:

- wall metrics (times, rates, memory) compare medians. The spread of a
  set is its interquartile range over its median. When either set's
  spread exceeds the metric's bound the change is "unresolved" (or
  "improved (every run)" when every run of B beats every run of A); else a
  change beyond the bound in the metric's worse direction is a
  "REGRESSION", one beyond it in the better direction "improved".
  End-to-end metrics take bound and direction from BENCHMARK.json;
  per-layer times have no bound, so they use their own spread, and
  stay "unresolved" with fewer than three runs a side.
- counters (count, B, ratio) compare exactly, seed by seed; any
  difference is listed with both values.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTER_UNITS = {"count", "B", "ratio"}


def load_set(d):
    """{(workload, trace): {seed: {metric: (value, unit)}}}"""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            a = json.load(fh)
        if "workload" not in a:
            continue
        ms = {l["metric"]: (l["value"], l["unit"]) for l in a.get("lines", []) if "metric" in l}
        out.setdefault((a["workload"], a.get("trace", 0)), {})[a.get("seed")] = ms
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def compare(a, b, specs):
    rows = []
    for key in sorted(set(a) & set(b)):
        sa, sb = a[key], b[key]
        names = sorted({m for r in list(sa.values()) + list(sb.values()) for m in r})
        for m in names:
            va = [r[m][0] for r in sa.values() if m in r and r[m][0] is not None]
            vb = [r[m][0] for r in sb.values() if m in r and r[m][0] is not None]
            if not va or not vb:
                continue
            unit = next(r[m][1] for r in sa.values() if m in r)
            sp = specs.get(m, {})
            if unit in COUNTER_UNITS:
                diffs = [(s, sa[s][m][0], sb[s][m][0]) for s in sorted(set(sa) & set(sb), key=str)
                         if m in sa[s] and m in sb[s] and sa[s][m][0] != sb[s][m][0]]
                if not (set(sa) & set(sb)):
                    ma, mb = statistics.median(va), statistics.median(vb)
                    verdict = "equal" if ma == mb else f"differs (median {ma} -> {mb})"
                else:
                    verdict = "equal" if not diffs else "differs " + ", ".join(
                        f"seed {s}: {x} -> {y}" for s, x, y in diffs[:4])
                rows.append((key, m, unit, verdict))
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            spa, spb = spread(va), spread(vb)
            change = (mb - ma) / abs(ma) if ma else 0.0
            lower = sp.get("better", "lower") == "lower"
            worse = change if lower else -change
            bound = sp.get("bound")
            if bound is None:
                bound = max(spa, spb)
                verdict = ("unresolved" if min(len(va), len(vb)) < 3 or abs(change) <= bound else
                           ("worse" if worse > 0 else "better"))
            elif max(spa, spb) > bound:
                # Too noisy to call, unless every run of B beats every run of A.
                every = max(vb) < min(va) if lower else min(vb) > max(va)
                verdict = "improved (every run)" if every else "unresolved"
            elif worse > bound:
                verdict = "REGRESSION"
            elif -worse > bound:
                verdict = "improved"
            else:
                verdict = "same"
            rows.append((key, m, unit, f"{verdict}: median {ma:.6g} -> {mb:.6g} ({change:+.1%}), "
                                       f"spread {spa:.1%} / {spb:.1%}, n={len(va)}/{len(vb)}"))
    return rows


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load_set(sys.argv[1]), load_set(sys.argv[2])
    rows = compare(a, b, spec())
    bad = False
    for (wl, tr), m, unit, verdict in rows:
        print(f"{wl:12s} trace={tr} {m:36s} [{unit}] {verdict}")
        bad |= verdict.startswith("REGRESSION")
    only = sorted(set(a) ^ set(b))
    if only:
        print("only in one set:", only)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
