#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
measures it: for each metric, the distance between the first and third
quartile of its values over several seeds, as a share of their median.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--seed0 1]
                                [--seconds N] [--out runs.json]

Runs `run.py` once per seed (seed0, seed0+1, ...), one after another.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in range(args.seed0, args.seed0 + args.runs):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append(res)
        vals = {k: round(m["value"], 4) for k, m in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    if args.out:
        pathlib.Path(args.out).write_text(json.dumps(runs, indent=1))
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        spread = stats.quartile_spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{m['name']:>18}: median {statistics.median(vals):.6g} {m['unit']}, "
              f"spread {spread:.3f} (bound {m['bound']}, target < {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
