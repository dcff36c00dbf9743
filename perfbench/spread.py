#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise each metric's spread.

    python3 perfbench/spread.py --workload ops_pipeline --seeds 1-10 \
        --seconds 5 --out perfbench/results/set1-ops_pipeline.json

For each metric: the values of every run, their median and quartiles
(statistics.quantiles(n=4)) and the quartile distance as a share of the
median. Runs one seed at a time from the root of the checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10")
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    a = p.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", a.trace],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result["seed"], result["wall_s"] = s, round(time.monotonic() - t0, 1)
        runs.append(result)
        print(json.dumps({"seed": s, "wall_s": result["wall_s"], "failed": result["failed"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
    summary = {}
    for m in runs[0]["metrics"]:
        vals = [r["metrics"][m]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        summary[m] = {"unit": runs[0]["metrics"][m]["unit"], "median": med, "q1": q1,
                      "q3": q3, "iqr_rel": (q3 - q1) / med if med else None,
                      "values": vals}
        print(f"{m:>26}: median {med:.6g}  iqr/median {summary[m]['iqr_rel'] or 0:.4f}")
    report = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "seeds": seeds(a.seeds), "wall_s": [r["wall_s"] for r in runs],
              "attempted": sum(r["attempted"] for r in runs),
              "failed": sum(r["failed"] for r in runs), "metrics": summary}
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
