"""Single-core baseline: one traced run of a workload at local[4] and one at
local[1], then each timed layer's parallel speed-up (1-core seconds over
4-core seconds).

    python3 perfbench/speedup.py --workload cdc_bulk --seed 1
    python3 perfbench/speedup.py --workload batch_queries --seed 1

Ungated: nothing compares these numbers between commits.
"""
import argparse
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def layers(workload, seed, seconds, cores):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
         "--cores", str(cores)],
        cwd=BENCH.parent, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} at {cores} cores failed ({out.returncode})")
    vals = {}
    for line in out.stdout.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] == "layer" and parts[2] == "=":
            vals[parts[1]] = float(parts[3])
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    four = layers(a.workload, a.seed, a.seconds, 4)
    one = layers(a.workload, a.seed, a.seconds, 1)
    print(f"{'layer':44} {'4 cores':>10} {'1 core':>10} {'speed-up':>9}")
    for k, v4 in four.items():
        v1 = one.get(k)
        if not k.endswith("_s") or v1 is None or v4 <= 0:
            continue
        print(f"{k:44} {v4:10.3f} {v1:10.3f} {v1 / v4:9.2f}")


if __name__ == "__main__":
    main()
