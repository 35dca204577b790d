#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs on one commit.

    python3 perfbench/steady.py [--seeds 10] [--sets 2] [--workloads a,b]

Run from the root of a checkout. Each set runs every workload once per
seed (seeds 1..N in the first set, N+1..2N in the second) with
`--trace 0` and the run length from BENCHMARK.json. For every end-to-end
metric of every workload it prints each set's median and spread (the
distance between the first and third quartile over the median) and the
drift of the second median from the first, against the metric's bound.
Exits 1 when a spread or a drift in the worse direction exceeds its
bound, or when a run fails.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    run.walls.append(time.time() - t)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {r.returncode})")
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


run.walls = []


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, q2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        run.walls.clear()
        sets = []
        for s in range(a.sets):
            seeds = range(1 + s * a.seeds, 1 + (s + 1) * a.seeds)
            sets.append([run(w, seed, spec["run_seconds"]) for seed in seeds])
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r[name] for r in runs]) for runs in sets]
            med0 = stats[0][1]
            worse = [(st[1] - med0) / med0 * (1 if m["better"] == "lower" else -1) for st in stats[1:]]
            bad_spread = any(sp > bound for sp, _ in stats)
            bad_drift = any(d > bound for d in worse)
            ok &= not (bad_spread or bad_drift)
            print(f"{w:10s} {name:12s} bound {bound:.2f}  "
                  + "  ".join(f"median {md:.6g} spread {sp:.3f}" for sp, md in stats)
                  + "  drift " + " ".join(f"{d:+.3f}" for d in worse)
                  + ("  OVER" if bad_spread or bad_drift else ""), flush=True)
        print(f"{w:10s} wall per run {statistics.mean(run.walls):.1f}s (max {max(run.walls):.1f}s)",
              flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
