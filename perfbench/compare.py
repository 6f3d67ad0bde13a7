#!/usr/bin/env python3
"""Summarize or compare benchmark results.

    python3 perfbench/compare.py A.jsonl            # one set of runs
    python3 perfbench/compare.py A.jsonl B.jsonl    # A (base) vs B

Each file holds the stdout of any number of `perfbench/run.py` runs; the
`{"perfbench": ...}` lines are read, the rest ignored. For every
workload and every metric the tool prints the median and quartiles over
the runs (Python's `statistics.quantiles(n=4)`), the spread (quartile
distance over median), and with two files the change of the median.

A metric's bound comes from BENCHMARK.json: the end-to-end metrics carry
their own, a workload figure takes the bound of the end-to-end metric it
feeds (`*_p50_s`/`*_p90_s` -> op_geomean_s, `*_per_s` -> units_per_s), and
everything else uses DEFAULT_BOUND. A comparison whose spread on either
side exceeds the bound reads "unresolved" rather than "same".

When a file holds traced and untraced runs of one workload, the tracing
overhead (traced minus untraced median operation time) is printed too.
"""
import json
import os
import statistics
import sys

DEFAULT_BOUND = 0.1


def load(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith('{"perfbench"'):
                runs.append(json.loads(line)["perfbench"])
    return runs


def bounds():
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def bound_of(name, b):
    if name in b:
        return b[name]
    if name.endswith(("_p50_s", "_p90_s")) and "op_geomean_s" in b:
        return b["op_geomean_s"]
    if name.endswith("_per_s") and "units_per_s" in b:
        return b["units_per_s"]
    return DEFAULT_BOUND


def table(runs):
    """(workload, trace) -> metric -> (unit, [values])."""
    out = {}
    for r in runs:
        rows = out.setdefault((r["workload"], r["trace"]), {})
        figures = dict(r["metrics"])
        figures.update(r.get("detail", {}))
        for name, m in figures.items():
            rows.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return out


def stats(xs):
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def fmt(v):
    return f"{v:.4g}"


def main():
    if len(sys.argv) not in (2, 3):
        print(__doc__.strip().split("\n\n")[1])
        sys.exit(2)
    b = bounds()
    sets = [table(load(p)) for p in sys.argv[1:]]
    keys = sorted(set().union(*sets))
    for key in keys:
        workload, trace = key
        n = [len(next(iter(s[key].values()))[1]) if key in s else 0
             for s in sets]
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}; "
              f"runs: {' vs '.join(map(str, n))})")
        names = sorted(set().union(*(s.get(key, {}) for s in sets)))
        for name in names:
            cols = []
            spreads = []
            meds = []
            unit = None
            for s in sets:
                if name not in s.get(key, {}):
                    cols.append("-")
                    continue
                unit, xs = s[key][name]
                med, q1, q3, spread = stats(xs)
                meds.append(med)
                spreads.append(spread)
                cols.append(f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}] "
                            f"spread {spread:.3f}")
            bound = bound_of(name, b)
            line = f"  {name:34s} {unit or '':6s} " + "  |  ".join(cols)
            if len(sets) == 2 and len(meds) == 2:
                change = (meds[1] - meds[0]) / meds[0] if meds[0] else 0.0
                if max(spreads) > bound:
                    verdict = "unresolved"
                elif abs(change) <= bound:
                    verdict = "same"
                else:
                    verdict = "changed"
                line += f"  |  {change:+.3f} ({verdict}, bound {bound})"
            elif spreads and spreads[0] > bound:
                line += f"  (spread over bound {bound})"
            print(line)
    for s_i, s in enumerate(sets):
        for (workload, trace) in s:
            if trace or (workload, 1) not in s:
                continue
            plain = statistics.median(s[(workload, 0)]["op_geomean_s"][1])
            traced = statistics.median(
                s[(workload, 1)]["trace.op_geomean_s"][1])
            print(f"\ntracing overhead, {workload} (file {s_i + 1}): "
                  f"{traced - plain:+.4f} s on an untraced median "
                  f"op_geomean_s of {plain:.4f} s")


if __name__ == "__main__":
    main()
