#!/usr/bin/env python3
"""Write the traced record of each workload to perfbench/records/.

    python3 perfbench/record.py --seed 101 [--workloads ingest_jdbc,...]

Per workload it makes one untraced and one traced run with the same seed
and writes records/<workload>.json: both environment stamps, the untraced
end-to-end metrics, the traced per-layer metrics and spans, the tracing
overhead (traced minus untraced, per end-to-end metric) and the layer
accounting: for the ingest workloads how decode, conversion, DDL and sink
add up to the job time and what remains; for ops_mix how the per-module
times add up to the pass time.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.exit(f"record: {workload} trace {trace} exited {p.returncode}")
    with open(os.path.join(ROOT, ".bench_out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def value(metrics, name):
    return metrics[name]["value"]


def accounting(workload, layers):
    v = {k: m["value"] for k, m in layers.items()}
    if workload == "ops_mix":
        modules = {k: x for k, x in v.items()
                   if k.startswith("ops.") and k.endswith("Ops.s")}
        total = sum(modules.values())
        return {"pass_s": v["ops.pass_s"], "sum_of_modules_s": total,
                "unaccounted_s": v["ops.pass_s"] - total,
                "build_s": v["ops.build_s"], "exec_s": v["ops.exec_s"]}
    parts = {k: v[k] for k in ("fits.decode_s", "ingest.convert_s",
                               "ingest.ddl_s", "sink.write_s")}
    return {"job_s": v["ingest.job_s"], **parts,
            "sum_of_layers_s": sum(parts.values()),
            "remainder_s": v["ingest.remainder_s"],
            "sink_share": v["sink.write_s"] / v["ingest.job_s"],
            "fits_splits": v["fits.splits"], "rows_decoded": v["fits.rows_decoded"]}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    os.makedirs(os.path.join(BENCH, "records"), exist_ok=True)
    for w in a.workloads.split(","):
        plain = run(w, a.seed, bench["run_seconds"], "0")
        traced = run(w, a.seed, bench["run_seconds"], "1")
        overhead = {m: value(traced["end_to_end"], m) - value(plain["end_to_end"], m)
                    for m in plain["end_to_end"]}
        out = {
            "workload": w,
            "seed": a.seed,
            "run_seconds": bench["run_seconds"],
            "untraced": {k: plain[k] for k in ("env", "result", "end_to_end", "setup", "detail")},
            "traced": {k: traced[k] for k in ("env", "result", "per_layer", "setup", "detail")},
            "tracing_overhead": overhead,
            "accounting": accounting(w, traced["per_layer"]),
            "spans": traced["spans"],
        }
        with open(os.path.join(BENCH, "records", f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(f"record: {w} written", file=sys.stderr)


if __name__ == "__main__":
    main()
