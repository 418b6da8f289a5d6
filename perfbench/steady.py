"""Steadiness check: two sets of runs of one workload, compared.

    python3 perfbench/steady.py --workload build --runs 5 [--seconds 10]

Run from the repository root.  Set A uses seeds 1..N, set B seeds
101..100+N.  For each end-to-end metric it prints, per set, the median,
the quartiles and the quartile spread as a share of the median, then
whether each spread (setup_s excepted) stays within the metric's bound
in BENCHMARK.json and whether set B's median is no worse than set A's
by more than the bound.  Each run's median calibration seconds and the
host-normalized medians are printed too, so host drift between the
sets is visible.  Raw run
records go to perfbench/_work/steady/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "_work", "steady")


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}):\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    records = os.path.join(HERE, "_work", "records")
    newest = max((os.path.join(records, f) for f in os.listdir(records)
                  if f.startswith(f"{workload}-s{seed}-t0-")), key=os.path.getmtime)
    with open(newest) as f:
        rec = json.load(f)
    res["calib_s"] = statistics.median(c["wall_s"] for c in rec["calibration"])
    res["total_s"] = rec["total_s"]
    res["normalized"] = rec["normalized"]
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(OUT, exist_ok=True)
    sets = {}
    for label, base in (("A", 1), ("B", 101)):
        runs = []
        for seed in range(base, base + args.runs):
            r = one_run(args.workload, seed, seconds)
            runs.append(r)
            print(f"set {label} seed {seed:3d}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} calib={r['calib_s']:.3f}s "
                  f"run={r['total_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        sets[label] = runs
        with open(os.path.join(OUT, f"{args.workload}-{label}.json"), "w") as f:
            json.dump(runs, f)
    ok = True
    shares = {label: {r["failed"] / r["attempted"] for r in runs} for label, runs in sets.items()}
    if len(shares["A"] | shares["B"]) != 1:
        ok = False
        print(f"failed share differs between runs: {shares}")
    for label, runs in sets.items():
        print(f"set {label}: median calibration {statistics.median(r['calib_s'] for r in runs):.3f}s")
    print(f"{'metric':14s} {'set':3s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s}")
    for name, m in metrics.items():
        meds = {}
        for label, runs in sets.items():
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
            meds[label] = med
            flag = "" if name == "setup_s" or sp <= m["bound"] else "  > bound"
            ok &= not flag
            nmed, _, _, nsp = spread([r["normalized"][name]["value"] for r in runs])
            print(f"{name:14s} {label:3s} {med:11.4f} {q1:11.4f} {q3:11.4f} {sp:7.3f}{flag}"
                  f"   normalized: {nmed:11.4f} spread {nsp:.3f}")
        worse = ((meds["B"] - meds["A"]) / meds["A"] if m["better"] == "lower"
                 else (meds["A"] - meds["B"]) / meds["A"])
        verdict = "ok" if worse <= m["bound"] else "WORSE than bound"
        ok &= worse <= m["bound"]
        print(f"{name:14s} B vs A: {worse:+.3f} of A's median (bound {m['bound']}) {verdict}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
