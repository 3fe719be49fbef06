"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds S]

Runs the benchmark once per seed (untraced, one after another, from the
checkout root) and prints, for each end-to-end metric, its median and
(Q3 - Q1) / median over the runs that passed, beside the metric's bound
and a third of it; failed runs are listed with their failures. Each
run's result line is appended to .bench_out/spread-NAME.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

from perfbench import catalog, stats  # noqa: E402


def seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    log = os.path.join(CHECKOUT, ".bench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {n: [] for n, *_ in catalog.END_TO_END}
    walls, failed = [], []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=CHECKOUT, capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        print(f"seed {seed} rc {proc.returncode} wall {walls[-1]:.1f}s {last[:160]}",
              flush=True)
        if proc.returncode != 0:
            failed.append(seed)
            print("\n".join(line for line in proc.stdout.splitlines()
                            if line.startswith("FAILED")) or proc.stderr[-3000:])
            continue
        doc = json.loads(last)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **doc}) + "\n")
        for n in values:
            values[n].append(doc["metrics"][n]["value"])
    print(f"runs {len(walls)}  failed {failed or 'none'}  wall median "
          f"{stats.median(walls):.1f}s  max {max(walls):.1f}s")
    for name, unit, _better, bound in catalog.END_TO_END:
        v = values[name]
        if len(v) < 2:
            continue
        spread = stats.quartile_spread(v)
        print(f"{name:<14} median {stats.median(v):>10.4g} {unit:<4} spread {spread:6.3f} "
              f"bound {bound:.2f} (third {bound / 3:.3f})")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
