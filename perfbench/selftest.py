#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at sf0.001 (ingest
sources of 6,000 and 1,500 rows; the sf0.001 ops_mix tables) and checks
that each run exits 0, reports correct outputs, and prints exactly the
metrics BENCHMARK.json names, each with its unit. It then runs ops_mix
against a deliberately wrong expected digest and checks that the run is
reported as incorrect and exits non-zero. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TINY = ["--sf", "0.001", "--ops-sf", "0.001", "--seconds", "1", "--seed", "7"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--trace", trace, *TINY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in ("0", "1"):
            code, r = run(w, trace)
            where = f"{w} trace {trace}"
            if code != 0 or r is None:
                problems.append(f"{where}: exit {code}, result {r}")
                continue
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{where}: correct {r['correct']}, "
                                f"{r['failed']} of {r['attempted']} failed")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, units "
                                f"{[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
            bad = [k for k, v in r["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{where}: non-numeric values {bad}")
            print(f"selftest: {where} ok", file=sys.stderr)

    # a wrong expected digest must fail the run
    wrong = os.path.join(ROOT, ".bench_out", "selftest-wrong-digests.tsv")
    os.makedirs(os.path.dirname(wrong), exist_ok=True)
    with open(os.path.join(BENCH, "expected", "ops_sf0.001.tsv")) as f:
        lines = f.read().splitlines()
    first = next(i for i, l in enumerate(lines) if l and not l.startswith("#"))
    k, rows, digest = lines[first].split("\t")
    lines[first] = f"{k}\t{int(rows) + 1}\t{digest}"
    with open(wrong, "w") as f:
        f.write("\n".join(lines) + "\n")
    code, r = run("ops_mix", "0", "--expected", wrong)
    if code == 0 or r is None or r["correct"] or r["failed"] < 1:
        problems.append(f"wrong digest not caught: exit {code}, result {r}")
    else:
        print("selftest: wrong digest caught", file=sys.stderr)

    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "pass",
                      "problems": len(problems)}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
