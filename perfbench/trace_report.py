#!/usr/bin/env python3
"""Traced run with tracing overhead, per workload.

    python3 perfbench/trace_report.py [--seed N] [--seconds S] [workload ...]

For each workload (default: every one run.py knows) runs
the benchmark untraced (`--trace 0`) and traced (`--trace 1`) with the
same seed, and writes `perfbench/results/<workload>.json`: every
per-layer metric, self time by layer, box conditions, and for each
end-to-end metric the traced and untraced values and their relative
difference (the tracing overhead).
Run from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{workload} --trace {trace} failed (exit {p.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    with open("BENCHMARK.json") as f:
        ap.add_argument("--seconds", type=int, default=json.load(f)["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=["hot_both", "hot_reviews", "hot_players", "catalog_batch"])
    opt = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in opt.workloads:
        info0, plain = run(w, opt.seed, opt.seconds, 0)
        _, traced_line = run(w, opt.seed, opt.seconds, 1)
        with open(os.path.join(".bench_traces", f"{w}-seed{opt.seed}.summary.json")) as f:
            summary = json.load(f)
        overhead = {}
        for name, m in plain["metrics"].items():
            untraced, traced = m["value"], summary["metrics"].get(name)
            overhead[name] = {"unit": m["unit"], "untraced": untraced, "traced": traced,
                              "rel_diff": (traced - untraced) / untraced
                              if traced is not None and untraced else None}
        report = {
            "workload": w, "seed": opt.seed, "seconds": opt.seconds,
            "correct": plain["correct"] and traced_line["correct"],
            "box_untraced": info0["box"], "box_traced": summary["box"],
            "samples": summary.get("samples"),
            "tracing_overhead": overhead,
            "per_layer": summary["per_layer"],
            "self_ms_by_layer": summary.get("self_ms"),
            "queries_s": summary.get("queries"),
            "params": summary.get("params"),
        }
        out = os.path.join(HERE, "results", f"{w}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: wrote {os.path.relpath(out)}")


if __name__ == "__main__":
    main()
