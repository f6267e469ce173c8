#!/usr/bin/env python3
"""Write perfbench/results/<workload>.json: one untraced and one traced run
of the same seed per workload, with the per-layer metrics, each op kind's
self time per span, and the tracing overhead (traced minus untraced
end-to-end metrics). The traced run's spans go to <workload>.spans.jsonl.

    python3 perfbench/trace_report.py [--seed N] [--seconds S] [workload ...]

Workloads default to those in BENCHMARK.json plus ingest_bulk.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        *extra], cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    lines = p.stdout.splitlines()
    return json.loads(lines[-2][len("# info "):]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]] + ["ingest_bulk"])
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in a.workloads:
        info0, res0 = run(w, a.seed, a.seconds, 0)
        info1, res1 = run(w, a.seed, a.seconds, 1, "--spans",
                          os.path.join(HERE, "results", f"{w}.spans.jsonl"))
        plain = {k: v["value"] for k, v in res0["metrics"].items()}
        traced = info1["end_to_end"]
        out = {
            "workload": w, "seed": a.seed, "seconds": a.seconds, "cores": info1["cores"],
            "correct": res0["correct"] and res1["correct"],
            "loadavg": {"untraced": [info0["loadavg_before"], info0["loadavg_after"]],
                        "traced": [info1["loadavg_before"], info1["loadavg_after"]]},
            "end_to_end_untraced": plain,
            "end_to_end_traced": traced,
            "tracing_overhead": {k: {"traced_minus_untraced": traced[k] - plain[k],
                                     "share": (traced[k] - plain[k]) / plain[k]}
                                 for k in plain if k in traced and plain[k]},
            "self_ms_per_op": info1["self_ms"],
            "per_layer": {k: v["value"] for k, v in res1["metrics"].items()},
            "ops": {k: info1[k] for k in ("ops", "formats", "op_samples", "tail_pct")
                    if k in info1},
        }
        path = os.path.join(HERE, "results", f"{w}.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{w}: wrote {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    main()
