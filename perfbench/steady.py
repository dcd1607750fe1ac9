"""Steadiness self-check: run each workload repeatedly, each run in a fresh
JVM on its own seed, and report for every end-to-end metric the median,
the quartiles and the spread (interquartile distance / median). A metric
whose spread exceeds its bound in BENCHMARK.json is flagged; so is one
above a third of its bound, the margin the benchmark aims for.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload W ...]

Prints one line per (workload, metric) and a JSON summary as the last line;
exits 1 when a metric is flagged over its bound or a run fails.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description="run-to-run spread of the end-to-end metrics")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary, over = {}, False
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        values = {m: [] for m in bounds}
        for i in range(a.runs):
            seed = a.first_seed + i
            r = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            line = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            if not line or not line["correct"]:
                print(f"{w} seed {seed}: run failed (exit {r.returncode})")
                over = True
                continue
            for m in bounds:
                values[m].append(line["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={line['metrics'][m]['value']:.6g}" for m in bounds), flush=True)
        for m, xs in values.items():
            if len(xs) < 4:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ("OVER BOUND" if spread > bounds[m] else
                    "above bound/3" if spread > bounds[m] / 3 else "")
            over |= flag == "OVER BOUND"
            summary[f"{w}/{m}"] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                   "bound": bounds[m], "n": len(xs)}
            print(f"{w:18s} {m:18s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"spread={spread:.3%} bound={bounds[m]:.0%} {flag}")
    print(json.dumps(summary, sort_keys=True))
    sys.exit(1 if over else 0)


if __name__ == "__main__":
    main()
