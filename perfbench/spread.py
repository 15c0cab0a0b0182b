"""Steadiness check: run the benchmark on several seeds and print, per
end-to-end metric, the median and the interquartile range as a share
of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload image-suite --seeds 1-10

Run from the repository root. Results are appended to
.perfbench_cache/spread.jsonl so that two sets can be compared.
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
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def seeds(text: str):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        took = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res.update(seed=seed, workload=args.workload, run_s=took)
        runs.append(res)
        with open(os.path.join(ROOT, ".perfbench_cache", "spread.jsonl"), "a") as f:
            f.write(json.dumps(res) + "\n")
        vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed:3d} {took:6.1f}s correct={res['correct']} {vals}", flush=True)
    print(f"{args.workload}: {len(runs)} runs, "
          f"{sum(r['run_s'] for r in runs):.0f} s in all")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        b = bounds.get(name)
        print(f"  {name:28s} median {statistics.median(vals):14.4f}  "
              f"spread {sp:7.4f}  bound {b}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
