"""Run one workload once per seed and record how far its end-to-end
metrics spread: the distance between the first and third quartile of
the runs, as a share of their median.

    python3 perfbench/spread.py --workload olap --seeds 301-310 --seconds 8

Runs go one after another, each in its own process.  The per-run
figures and the spreads are written to ``runs/<workload>.json``;
``first_pass_s`` (from the summary line, not an end-to-end metric) is
recorded alongside for reference.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SUMMARY = "# perfbench summary "


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": round(q2, 4), "iqr_over_median": round((q3 - q1) / q2, 4)}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, required=True, help="e.g. 301-310")
    p.add_argument("--seconds", type=int, default=8)
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed} failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        summary = json.loads(next(x for x in lines if x.startswith(SUMMARY))[len(SUMMARY):])
        rec = {
            "seed": seed,
            "wall_s": round(wall, 1),
            "host_steal_frac": round(summary["host_steal_frac"], 4),
            "warm_passes": summary["warm_passes"],
            "correct": result["correct"],
            "first_pass_s": summary["first_pass_s"],
            "end_to_end": {k: m["value"] for k, m in result["metrics"].items()},
        }
        runs.append(rec)
        print(json.dumps(rec), flush=True)

    names = list(runs[0]["end_to_end"])
    out = {
        "workload": args.workload,
        "command": f"python3 perfbench/run.py --workload {args.workload} --seed SEED"
                   f" --seconds {args.seconds} --trace 0",
        "host": f"{len(os.sched_getaffinity(0))} CPUs, {platform.system()} {platform.machine()}",
        "runs": runs,
        "spread": {k: spread([r["end_to_end"][k] for r in runs]) for k in names},
        "first_pass_s_spread": spread([r["first_pass_s"] for r in runs]),
    }
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    with open(os.path.join(HERE, "runs", f"{args.workload}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out["spread"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
