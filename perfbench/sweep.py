"""Run the benchmark over several seeds and summarise every metric.

    python3 perfbench/sweep.py --runs 10 [--workloads medallion_run,query_mix]
        [--seconds 20] [--trace] [--out perfbench/baseline.json]

Each run is one ``run.py`` invocation (its own processes). Prints, per
workload and end-to-end metric, the unit, median, quartiles, sample
count and spread (quartile distance / median), plus ``op_fail_ratio``
over all operations. ``--trace`` adds one traced run per workload.
Exits non-zero if any run reports wrong outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {
        "correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    res["elapsed_s"] = time.monotonic() - t0
    if proc.returncode or not res["correct"]:
        sys.stderr.write(proc.stderr[-3000:])
    return res


def summary(xs: list[float]) -> dict:
    q1, med, q3 = run.quartiles(xs)
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs),
            "spread": (q3 - q1) / med if med else 0.0}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=0)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None, help="write the summary as JSON here")
    a = ap.parse_args(argv)

    report: dict = {"cores": run.cores(), "runs": a.runs, "seconds": a.seconds, "workloads": {}}
    ok = True
    for w in a.workloads.split(","):
        results = [one(w, a.first_seed + i, a.seconds, 0) for i in range(a.runs)]
        ok &= all(r["correct"] for r in results)
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        rows = {m: summary([r["metrics"][m]["value"] for r in results if m in r["metrics"]])
                for m, _, _ in run.END_TO_END
                if any(m in r["metrics"] for r in results)}
        entry = {"metrics": rows, "op_fail_ratio": failed / attempted,
                 "run_elapsed_s": summary([r["elapsed_s"] for r in results])}
        print(f"\n{w}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
              f"op_fail_ratio {failed}/{attempted}, run elapsed median "
              f"{entry['run_elapsed_s']['median']:.1f} s")
        print(f"{'metric':14} {'unit':>6} {'median':>12} {'q1':>12} {'q3':>12} {'n':>3} {'spread':>8}")
        units = {m: u for m, u, _ in run.END_TO_END}
        for m, s in rows.items():
            print(f"{m:14} {units[m]:>6} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
                  f"{s['n']:3d} {s['spread']:8.2%}")
        if a.trace:
            tr = one(w, a.first_seed, a.seconds, 1)
            ok &= tr["correct"]
            entry["trace"] = {k: v["value"] for k, v in tr["metrics"].items()}
            print(f"traced: overhead {entry['trace'].get('trace.overhead', float('nan')):+.2%}, "
                  f"unattributed {entry['trace'].get('trace.unattributed_s', float('nan')):.3f} s")
        report["workloads"][w] = entry
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
