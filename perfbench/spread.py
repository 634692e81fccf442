#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload mr_olap_lazy --seeds 1-10 [--sets 2]

Runs the benchmark once per seed with BENCHMARK.json's run length and
prints, per metric, the median, the distance between the first and third
quartile as a share of the median (``statistics.quantiles(n=4)``), and
the metric's bound. With ``--sets N`` the seeds are run N times over, one
set after the other, and each set's median is also compared with the
first set's: the change as a share of the first median, positive when
the metric got worse.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    first = {}
    for n in range(1, a.sets + 1):
        values = {}
        for s in seeds(a.seeds):
            r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                                   "--seconds", str(bench["run_seconds"]),
                                                   "--trace", "0"],
                               capture_output=True, text=True, cwd=ROOT)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            print(f"set {n} seed {s}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            first.setdefault(k, med)
            change = (med - first[k]) / first[k] * (1 if lower[k] else -1)
            print(f"set {n} {a.workload} {k:<14} median {med:10.4f}  "
                  f"spread {(q[2] - q[0]) / med:.4f}  change {change:+.4f}  bound {bounds[k]}",
                  flush=True)


if __name__ == "__main__":
    sys.exit(main())
