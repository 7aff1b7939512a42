"""Run the benchmark once per seed and summarize the runs.

    python3 perfbench/repeat.py --workload kg_narrow --seeds 1-10 \
        --out runs.jsonl [--trace 1]
    python3 perfbench/repeat.py --summarize runs.jsonl

Run from the repository root. Each run's record and result lines are
appended to ``--out`` as one JSON line. The summary gives, per workload
and metric, the median, the quartiles (``statistics.quantiles(n=4)``) and
their distance as a share of the median, plus the host-weather probes.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run_seeds(workload: str, seeds: range, trace: int, seconds: int,
              out: str) -> None:
    with open(out, "a") as f:
        for seed in seeds:
            p = subprocess.run(
                [sys.executable, str(RUN), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            row = {"workload": workload, "seed": seed, "trace": trace,
                   "returncode": p.returncode}
            if p.returncode == 0:
                row["record"] = json.loads(lines[-2])
                row["result"] = json.loads(lines[-1])
            else:
                row["stderr"] = p.stderr[-2000:]
            f.write(json.dumps(row) + "\n")
            f.flush()


def summarize(path: str) -> dict:
    rows = [json.loads(line) for line in open(path)]
    out: dict = {}
    for key in sorted({(r["workload"], r["trace"]) for r in rows}):
        runs = [r for r in rows if (r["workload"], r["trace"]) == key]
        ok = [r for r in runs if r["returncode"] == 0]
        entry = {"runs": len(runs), "exited_0": len(ok),
                 "correct": sum(r["result"]["correct"] for r in ok),
                 "weather_khs": [r["record"]["weather_khs"] for r in ok],
                 "metrics": {}}
        for name in (ok[0]["result"]["metrics"] if ok else ()):
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            entry["metrics"][name] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0}
        out[f"{key[0]}/trace{key[1]}"] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--out")
    ap.add_argument("--summarize", metavar="JSONL")
    args = ap.parse_args()
    if args.summarize:
        print(json.dumps(summarize(args.summarize), indent=1))
        return 0
    if not (args.workload and args.seeds and args.out):
        ap.error("--workload, --seeds and --out are required")
    first, last = map(int, args.seeds.split("-"))
    run_seeds(args.workload, range(first, last + 1), args.trace,
              args.seconds, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
