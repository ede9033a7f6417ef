#!/usr/bin/env python3
"""Summarize or compare sets of benchmark results.

    python3 perfbench/compare.py RESULTS_DIR            # spread of one set
    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR  # parent vs change

A results directory holds the per-run records `run.py` writes to
.bench_work/results/. For each (workload, end-to-end metric) the tool
prints the median, the quartiles and the spread (inter-quartile distance
over the median) of the untraced runs. Given two sets it first refuses,
with exit status 2, to compare results taken under different conditions
(cores, session, shuffle partitions, JVM, Spark, heap, inputs, run
length). Then it marks each pairing WORSE whose change median is worse
than the parent median by more than the metric's bound in
BENCHMARK.json, UNRESOLVED when the parent set's own spread is wider
than that bound (its median cannot resolve a change of the bound's
size) and not every change run beats every parent run, and ok
otherwise. Exit status: 1 if any pairing is WORSE, else 3 if any is
UNRESOLVED, else 0.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


class ConditionMismatch(Exception):
    pass


def load(directory):
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if not r.get("trace"):
            runs.append(r)
    return runs


def conditions_by_workload(runs):
    """One condition record per workload; raises ConditionMismatch when
    runs of one workload disagree."""
    out = {}
    for r in runs:
        c = r["conditions"]
        w = r["workload"]
        if w in out and stats.condition_mismatches(out[w], c):
            raise ConditionMismatch(
                f"{w}: runs differ in {stats.condition_mismatches(out[w], c)}")
        out.setdefault(w, c)
    return out


def check_comparable(a_runs, b_runs):
    """Raise ConditionMismatch unless both sets ran under the same
    conditions, workload by workload."""
    ca, cb = conditions_by_workload(a_runs), conditions_by_workload(b_runs)
    for w in sorted(set(ca) & set(cb)):
        diff = stats.condition_mismatches(ca[w], cb[w])
        if diff:
            raise ConditionMismatch(
                f"{w}: conditions differ in {diff}: "
                + ", ".join(f"{k}={ca[w].get(k)!r} vs {cb[w].get(k)!r}"
                            for k in diff))


def summary(runs):
    """{(workload, metric): [values]} over the runs' end-to-end metrics."""
    out = {}
    for r in runs:
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def describe(values):
    if len(values) < 2:
        return f"n={len(values)} value={values[0]:.6g}" if values else "n=0"
    q1, q2, q3 = stats.quartiles(values)
    return (f"n={len(values)} median={q2:.6g} q1={q1:.6g} q3={q3:.6g} "
            f"spread={stats.spread(values):.3f}")


def verdict(parent, change, metric):
    """WORSE, UNRESOLVED or ok for one (workload, metric) pairing; see the
    module's doc."""
    pa, pb = stats.median(parent), stats.median(change)
    rel = (pb - pa) / pa if pa else 0.0
    higher = metric["better"] == "higher"
    if (-rel if higher else rel) > metric["bound"]:
        return "WORSE"
    if len(parent) < 2 or stats.spread(parent) > metric["bound"]:
        beats = (min(change) > max(parent) if higher
                 else max(change) < min(parent))
        if not beats:
            return "UNRESOLVED"
    return "ok"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    a_runs = load(argv[1])
    try:
        conditions_by_workload(a_runs)
        if len(argv) == 2:
            for key, vals in sorted(summary(a_runs).items()):
                print(f"{key[0]:18s} {key[1]:12s} {describe(vals)}")
            return 0
        b_runs = load(argv[2])
        check_comparable(a_runs, b_runs)
    except ConditionMismatch as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    sa, sb = summary(a_runs), summary(b_runs)
    flags = []
    for key in sorted(set(sa) & set(sb)):
        m = metrics.get(key[1])
        if m is None:
            continue
        flag = verdict(sa[key], sb[key], m)
        flags.append(flag)
        pa, pb = stats.median(sa[key]), stats.median(sb[key])
        change = (pb - pa) / pa if pa else 0.0
        print(f"{key[0]:18s} {key[1]:12s} parent={pa:.6g} change={pb:.6g} "
              f"({change:+.1%}, bound {m['bound']:.0%}) {flag}")
    return 1 if "WORSE" in flags else 3 if "UNRESOLVED" in flags else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
