"""A/A check: does the benchmark agree with itself on one commit?

    python3 perfbench/aa.py --seed0 301

Makes two sets of ten untraced runs of the same checkout for every
workload of BENCHMARK.json, interleaved (A1 B1 A2 B2 ...) so drift in the
machine falls on both sets alike. Run ``i`` of either set uses seed
``seed0 + i``; keep the held-out seed out of the range. For every
workload and end-to-end metric it prints both sets' medians and
quartiles, each set's spread (quartile distance over median) and whether
the sets agree within the metric's bound from BENCHMARK.json: each
spread at most the bound, and the two medians no further apart, in
either direction, than the bound times set A's median. It also requires
the two runs of each seed to return the same curation result rows (their
row hashes). Exits 1 when any run fails or any check disagrees. The
per-run results land in ``.perfbench_work/aa-<unix time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def one_run(workload: str, seed: int, seconds: int) -> dict | None:
    """Result object of one untraced run, with the run's report under
    ``"report"``; None when the run exits non-zero."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}", flush=True)
        return None
    res = json.loads(lines[-1])
    res["report"] = json.loads(lines[-2])
    print(f"  {workload} seed {seed}: " + ", ".join(
        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(first quartile, median, third quartile, quartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed0", type=int, required=True)
    args = p.parse_args(argv)

    workloads = [w["name"] for w in bench["workloads"]]
    results: dict[str, dict[str, list]] = {w: {"A": [], "B": []} for w in workloads}
    for i in range(RUNS):
        for w in workloads:
            for side in ("A", "B"):
                results[w][side].append(one_run(w, args.seed0 + i, bench["run_seconds"]))

    ok = True
    print(f"\n{'workload':<12} {'metric':<14} {'median A':>10} {'median B':>10} "
          f"{'q1..q3 A':>21} {'q1..q3 B':>21} {'spr A':>6} {'spr B':>6} {'bound':>5}  agree")
    for w in workloads:
        runs = results[w]
        if any(r is None or not r["correct"] for side in runs.values() for r in side):
            print(f"{w:<12} some runs failed or were incorrect")
            ok = False
            continue
        # the same seed must give the same curation results in both sets
        for a, b in zip(runs["A"], runs["B"]):
            ha, hb = (r["report"]["info"].get("row_hashes") for r in (a, b))
            if ha != hb:
                print(f"{w:<12} seed {a['report']['seed']}: result rows differ between sets")
                ok = False
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            qa = spread([r["metrics"][name]["value"] for r in runs["A"]])
            qb = spread([r["metrics"][name]["value"] for r in runs["B"]])
            agree = qa[3] <= bound and qb[3] <= bound and abs(qb[1] - qa[1]) / qa[1] <= bound
            ok &= agree
            print(f"{w:<12} {name:<14} {qa[1]:>10.4g} {qb[1]:>10.4g} "
                  f"{qa[0]:>10.4g}..{qa[2]:<10.4g} {qb[0]:>10.4g}..{qb[2]:<10.4g} "
                  f"{qa[3]:>6.3f} {qb[3]:>6.3f} {bound:>5}  {'yes' if agree else 'NO'}")
    out = os.path.join(ROOT, ".perfbench_work", f"aa-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"runs": RUNS, "seed0": args.seed0, "results": results}, f, indent=1)
    print(f"\nper-run results: {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
