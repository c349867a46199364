#!/usr/bin/env python3
"""Compare two benchmark result files, workload by workload.

    python3 perfbench/diff.py BASE.jsonl CANDIDATE.jsonl

A result file holds one JSON result per line, as sweep.py writes them
(the run.py result plus "workload", "seed" and "trace"). For every
workload and every end-to-end metric in BENCHMARK.json this prints the
median and the first and third quartiles of each side, the change of the
median, and a verdict against the metric's bound:

  same        the medians differ by less than the bound
  better      the candidate is better by more than the bound
  worse       the candidate is worse by more than the bound
  unresolved  either side's run-to-run spread (IQR / median) exceeds the
              bound, so the files cannot tell a change from noise

Runs whose outputs failed their checks are counted and left out. Exits 1
when any metric is worse, 0 otherwise.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_runs(path):
    runs = []
    with open(path) as fh:
        for line in fh:
            if line.strip():
                runs.append(json.loads(line))
    return runs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def series(runs, workload, metric, trace=0):
    return [r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r.get("trace", 0) == trace and r["correct"]
            and metric in r["metrics"]]


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def report_spread(runs, spec):
    """Print the IQR/median spread of every end-to-end metric per workload."""
    for w in sorted({r["workload"] for r in runs}):
        bad = sum(1 for r in runs if r["workload"] == w and not r["correct"])
        print("== %s (%d runs, %d with failed checks)" % (w, sum(r["workload"] == w for r in runs), bad))
        for m in spec["end_to_end"]:
            v = series(runs, w, m["name"])
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            s = spread(v)
            flag = "ok" if s < m["bound"] / 3 else ("within bound" if s <= m["bound"] else "TOO NOISY")
            print("  %-20s median %-12.5g q1 %-12.5g q3 %-12.5g spread %6.3f bound %.2f  %s"
                  % (m["name"], med, q1, q3, s, m["bound"], flag))


def verdict(base, cand, metric):
    bound = metric["bound"]
    if spread(base) > bound or spread(cand) > bound:
        return "unresolved"
    b, c = statistics.median(base), statistics.median(cand)
    change = (c - b) / b if b else 0.0
    worse = change > bound if metric["better"] == "lower" else change < -bound
    better = change < -bound if metric["better"] == "lower" else change > bound
    return "worse" if worse else "better" if better else "same"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    spec = load_spec()
    base, cand = load_runs(argv[1]), load_runs(argv[2])
    any_worse = False
    for w in [x["name"] for x in spec["workloads"]]:
        nb = sum(1 for r in base if r["workload"] == w and r.get("trace", 0) == 0)
        nc = sum(1 for r in cand if r["workload"] == w and r.get("trace", 0) == 0)
        if not nb or not nc:
            continue
        fb = sum(1 for r in base if r["workload"] == w and not r["correct"])
        fc = sum(1 for r in cand if r["workload"] == w and not r["correct"])
        print("== %s: base %d runs (%d failed checks), candidate %d runs (%d failed checks)"
              % (w, nb, fb, nc, fc))
        print("  %-18s %-34s %-34s %8s  %s" % ("metric", "base median [q1, q3]",
                                              "candidate median [q1, q3]", "change", "verdict"))
        for m in spec["end_to_end"]:
            b, c = series(base, w, m["name"]), series(cand, w, m["name"])
            if not b or not c:
                continue
            qb, qc = quartiles(b), quartiles(c)
            v = verdict(b, c, m)
            any_worse |= v == "worse"
            print("  %-18s %-34s %-34s %+7.1f%%  %s (bound %.0f%%)" % (
                m["name"],
                "%.4g [%.4g, %.4g] %s" % (qb[1], qb[0], qb[2], m["unit"]),
                "%.4g [%.4g, %.4g] %s" % (qc[1], qc[0], qc[2], m["unit"]),
                100 * (qc[1] - qb[1]) / qb[1] if qb[1] else 0.0, v, 100 * m["bound"]))
    return 1 if any_worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
