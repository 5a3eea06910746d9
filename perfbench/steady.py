#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/steady.py --seeds 1-10 [--workloads ops_mix,ingest_jdbc]
        [--trace 0] [--out summary.json]

For every workload and metric it prints the median of the runs and the
distance between the first and third quartile (statistics.quantiles, n=4)
as a share of the median, next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                   "--trace", a.trace]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            took = time.time() - t0
            lines = p.stdout.strip().splitlines()
            r = json.loads(lines[-1]) if lines else None
            ok = p.returncode == 0 and r is not None and r["correct"]
            print(f"{w} seed {s}: exit {p.returncode}, correct {ok}, {took:.1f} s",
                  file=sys.stderr)
            if r is not None:
                runs.append(r)
        summary[w] = {}
        for m in (runs[0]["metrics"] if runs else {}):
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            summary[w][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "bound": bounds.get(m), "values": vals}
            b = bounds.get(m)
            flag = "" if b is None else ("ok" if spread <= b / 3 else
                                          "within bound" if spread <= b else "OVER")
            print(f"{w:15s} {m:20s} median {med:14.6g}  spread {spread:7.3f}  "
                  f"bound {b}  {flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
