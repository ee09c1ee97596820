#!/usr/bin/env python3
"""Steadiness record: run every workload of BENCHMARK.json on seeds 1..10
and report, per end-to-end metric, the median, the quartiles and the
spread (Q3 − Q1) / median, next to the metric's bound.

    python3 perfbench/steadiness.py --label set1

Writes perfbench/results/steadiness-<label>.json and prints a table. With
two labels recorded, `--compare <label-a> <label-b>` checks that every
metric's median moved by less than its bound between the two sets.
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
RESULTS = os.path.join(HERE, "results")
SEEDS = 10


def spec() -> dict:
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def record(label: str) -> dict:
    b = spec()
    out = {"label": label, "run_seconds": b["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in b["workloads"]):
        runs = []
        for seed in range(1, SEEDS + 1):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(b["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            if r.returncode != 0:
                raise SystemExit(f"{w} seed {seed}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            res["run_s"] = time.time() - t0
            runs.append(res)
            print(f"{w} seed {seed}: {res['run_s']:.1f} s, correct={res['correct']}", flush=True)
        metrics = {m["name"]: summary([x["metrics"][m["name"]]["value"] for x in runs])
                   for m in b["end_to_end"]}
        out["workloads"][w] = {
            "correct": all(x["correct"] for x in runs),
            "failed": sum(x["failed"] for x in runs),
            "run_s": summary([x["run_s"] for x in runs]),
            "metrics": metrics}
    return out


def show(rec: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for w, r in rec["workloads"].items():
        print(f"\n{w} (correct={r['correct']}, run {r['run_s']['median']:.1f} s median)")
        for name, s in r["metrics"].items():
            flag = "" if name == "setup_s" or s["spread"] < bounds[name] / 3 else "  <-- over bound/3"
            print(f"  {name:14s} median {s['median']:12.4f}  IQR/median {s['spread']:.4f}"
                  f"  bound {bounds[name]}{flag}")


def compare(a: str, b: str) -> int:
    ra, rb = (json.load(open(os.path.join(RESULTS, f"steadiness-{x}.json"))) for x in (a, b))
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    bad = 0
    for w in ra["workloads"]:
        for name, s in ra["workloads"][w]["metrics"].items():
            m1, m2 = s["median"], rb["workloads"][w]["metrics"][name]["median"]
            worse = (m2 - m1) / m1 if m1 else 0.0
            ok = worse <= bounds[name]
            bad += not ok
            print(f"{w:14s} {name:14s} {m1:12.4f} -> {m2:12.4f}  {worse:+.4f}  "
                  f"bound {bounds[name]}  {'ok' if ok else 'WORSE'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--label")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    if a.compare:
        return compare(*a.compare)
    rec = record(a.label)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"steadiness-{a.label}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")
    show(rec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
