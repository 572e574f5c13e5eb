#!/usr/bin/env python3
"""Steadiness check of the benchmark.

    python3 optbench/steady.py [--runs 10] [--sets 2] [--traced 2] [--seed0 N]

Runs every workload of BENCHMARK.json `--runs` times in each of `--sets`
sets, for BENCHMARK.json's run_seconds, each run with its own seed,
workloads interleaved so that drift of the host spreads over all of them. Then prints, per workload and end-to-end metric, each
set's median and quartiles, the spread (quartile distance over median,
the quantity BENCHMARK.json's bounds apply to) and the gap between the set
medians (positive = the second set is worse), plus the failed share of
operations per set. With `--traced N` it also makes N traced runs per
workload and reports the per-layer medians and the tracing overhead: the
traced run's own end-to-end numbers against the untraced medians.

The raw results go to .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode})")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    for line in p.stderr.splitlines():
        if line.startswith("optbench-traced-e2e "):
            out["traced_e2e"] = json.loads(line.split(" ", 1)[1])
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    results = {w: [[] for _ in range(a.sets)] for w in workloads}
    for s in range(a.sets):
        for i in range(a.runs):
            for w in workloads:
                seed = a.seed0 + 1000 * s + i
                r = run(w, seed, seconds, 0)
                results[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed}: {r['wall_s']:.1f} s "
                      f"failed {r['failed']}/{r['attempted']}",
                      file=sys.stderr)
    traced = {w: [run(w, a.seed0 + 500 + i, seconds, 1)
                  for i in range(a.traced)] for w in workloads}

    report = {"runs": a.runs, "sets": a.sets, "seconds": seconds,
              "workloads": {}}
    print(f"{a.sets} sets x {a.runs} runs per workload, "
          f"{seconds} s measured per run\n")
    for w in workloads:
        print(f"## {w}\n")
        print("| metric | bound | " + " | ".join(
            f"set {s + 1} median [q1, q3] | spread" for s in range(a.sets)) +
              " | gap |")
        print("|---" * (3 + 2 * a.sets) + "|")
        rep = {"metrics": {}, "failed_share": [], "wall_s": []}
        names = results[w][0][0]["metrics"].keys()
        for m in names:
            sets = [summary([r["metrics"][m]["value"] for r in results[w][s]])
                    for s in range(a.sets)]
            better = e2e[m]["better"]
            gap = (sets[-1]["median"] / sets[0]["median"] - 1) * (
                1 if better == "lower" else -1)
            rep["metrics"][m] = {"sets": sets, "gap": gap}
            print(f"| {m} | {e2e[m]['bound']} | " + " | ".join(
                f"{x['median']:.4g} [{x['q1']:.4g}, {x['q3']:.4g}] | "
                f"{x['spread']:.3f}" for x in sets) + f" | {gap:+.3f} |")
        for s in range(a.sets):
            att = sum(r["attempted"] for r in results[w][s])
            fail = sum(r["failed"] for r in results[w][s])
            shares = sorted({r["failed"] / r["attempted"]
                             for r in results[w][s]})
            rep["failed_share"].append(shares)
            rep["wall_s"].append(statistics.median(
                r["wall_s"] for r in results[w][s]))
            print(f"\nset {s + 1}: failed {fail}/{att}, per-run failed "
                  f"shares {shares}, median run wall "
                  f"{rep['wall_s'][-1]:.1f} s")
        if traced[w]:
            layer = {m: statistics.median(r["metrics"][m]["value"]
                                          for r in traced[w])
                     for m in traced[w][0]["metrics"]}
            overhead = {}
            for m in names:
                if m in ("peak_rss_mb",):
                    continue
                untraced = statistics.median(
                    r["metrics"][m]["value"] for s in range(a.sets)
                    for r in results[w][s])
                tr = statistics.median(r["traced_e2e"][m]["value"]
                                       for r in traced[w])
                overhead[m] = tr / untraced - 1
            rep["layers"] = layer
            rep["tracing_overhead"] = overhead
            print(f"\ntraced runs: {len(traced[w])}; tracing overhead "
                  "(traced/untraced - 1): " + ", ".join(
                      f"{k} {v:+.3f}" for k, v in overhead.items()))
            print("per-layer medians: " + ", ".join(
                f"{k} {v:.4g}" for k, v in layer.items()))
        print()
        report["workloads"][w] = rep
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump({"report": report, "results": results, "traced": traced},
                  f, indent=1)


if __name__ == "__main__":
    main()
