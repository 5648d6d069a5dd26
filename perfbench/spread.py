"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each metric, the distance between the first and third
quartile of its values over seeds (`statistics.quantiles(values, n=4)`) as
a share of their median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--workload W ...]
                                [--trace-overhead]

`--trace-overhead` also makes one traced run per seed and reports the
traced-minus-untraced difference of every end-to-end metric the traced run
prints under its per-workload name. Every run's result line is kept in
.bench_build/spread.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed ({out.returncode})")
    named, machine = {}, ""
    for line in lines[:-1]:
        # "metric <name> = <value> <unit> ..." lines: the per-workload names
        parts = line.split()
        if len(parts) >= 4 and parts[0] == "metric" and parts[2] == "=":
            named[parts[1]] = float(parts[3])
        if line.startswith("note machine: "):
            machine = line[len("note machine: "):]
    return json.loads(lines[-1]), named, machine


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    record = build.build_dir() / "spread.jsonl"
    record.parent.mkdir(parents=True, exist_ok=True)
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        overhead = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            res, named, machine = run(w, seed, spec["run_seconds"], 0)
            with open(record, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": 0,
                                    "machine": machine, **res}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {seed}: incorrect result {res}")
                ok = False
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            if a.trace_overhead:
                _, traced, _ = run(w, seed, spec["run_seconds"], 1)
                for k, v in traced.items():
                    if k in named:
                        overhead.setdefault(k, []).append(v - named[k])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={res['metrics'][k]['value']:.3f}" for k in values) +
                f" [{machine}]", flush=True)
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            verdict = ("ok" if share <= m["bound"] / 3 else
                       "within bound" if share <= m["bound"] else "OVER BOUND")
            if share > m["bound"]:
                ok = False
            print(f"{w} {m['name']}: median {med:.4f} {m['unit']}, IQR/median "
                  f"{share:.3f} (bound {m['bound']}) {verdict}")
        for k, ds in overhead.items():
            print(f"{w} trace overhead {k}: median {statistics.median(ds):+.4f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
