#!/usr/bin/env python3
"""Run the benchmark several times per workload and record every result.

    python3 perfbench/sweep.py --out .bench_build/sweep-a.jsonl --runs 10
    python3 perfbench/sweep.py --out b.jsonl --workloads tiles --runs 5 --trace 1

Each run is one `run.py` call with its own seed (--first-seed, +1, ...).
Every result line is appended to --out as JSON with its workload, seed and
trace flag. At the end the spread of every metric is printed: the distance
between the first and third quartile as a share of the median, beside the
metric's bound from BENCHMARK.json. Compare two sweep files with diff.py.
"""
import argparse
import json
import os
import subprocess
import sys

import diff

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = diff.load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            lines = p.stdout.decode().strip().splitlines()
            if p.returncode != 0 or not lines:
                print("%s seed %d: exit %d, no result" % (w, seed, p.returncode), flush=True)
                continue
            res = json.loads(lines[-1])
            res.update({"workload": w, "seed": seed, "trace": a.trace})
            with open(a.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
            print("%s seed %d: correct=%s %s" % (w, seed, res["correct"], " ".join(
                "%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items()
                if a.trace == 0)), flush=True)
    diff.report_spread(diff.load_runs(a.out), spec)


if __name__ == "__main__":
    main()
