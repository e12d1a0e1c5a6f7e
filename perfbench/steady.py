"""Steadiness check: two sets of ten runs of the same checkout.

    python3 perfbench/steady.py [--workloads a b]

Run from the repository root, with nothing else running on the host. Each
set runs every workload ten times, one run at a time, each with its own
seed (seeds 1-10, then 11-20). For every workload and end-to-end metric it
prints both sets' medians and quartiles, the spread (quartile distance
over the median) next to the metric's bound, and how far the second set's
median moved from the first; and each set's share of failed operations,
which must be equal across sets. It exits 1 when a spread or a move
exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS, SETS = 10, 2


def run_once(spec: dict, workload: str, seed: int) -> dict:
    t0 = time.perf_counter()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    for line in lines:
        if line.startswith("FAILED"):
            print(f"  {workload} seed {seed}: {line}", flush=True)
    res = json.loads(lines[-1])
    if not res["correct"]:
        print(proc.stderr[-3000:], flush=True)
    res["elapsed"] = time.perf_counter() - t0
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in names:
        sets = []
        for k in range(SETS):
            results = []
            for i in range(RUNS):
                seed = k * RUNS + i + 1
                res = run_once(spec, wl, seed)
                results.append(res)
                vals = " ".join(f"{m}={v['value']:.3f}" for m, v in res["metrics"].items())
                print(f"  {wl} set {k} seed {seed}: {vals} "
                      f"failed={res['failed']}/{res['attempted']} correct={res['correct']} "
                      f"run {res['elapsed']:.1f}s",
                      flush=True)
            sets.append(results)
        for metric in spec["end_to_end"]:
            m, bound = metric["name"], metric["bound"]
            meds = []
            for k, results in enumerate(sets):
                xs = [r["metrics"][m]["value"] for r in results]
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                flag = "" if spread <= bound else "  SPREAD OVER BOUND"
                ok = ok and not flag
                print(f"{wl:22s} {m:10s} set {k}: median {med:8.3f}  q1 {q1:8.3f}  "
                      f"q3 {q3:8.3f}  spread {spread:6.3f}  bound {bound}{flag}")
            shift = meds[1] / meds[0] - 1.0
            flag = "  MOVED BY MORE THAN BOUND" if abs(shift) > bound else ""
            ok = ok and not flag
            print(f"{wl:22s} {m:10s} set 1 vs set 0: median moved {shift:+.3f}{flag}")
        shares = [sorted({r["failed"] / r["attempted"] for r in results}) for results in sets]
        same = all(s == shares[0] and len(s) == 1 for s in shares)
        ok = ok and same and all(r["correct"] for results in sets for r in results)
        print(f"{wl:22s} failed share per set: {shares}" + ("" if same else "  DIFFERS"))
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
