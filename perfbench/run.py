"""The repo benchmark: one workload per run, checked outputs, one JSON result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--cores <n>] [--record]

Workloads (see perfbench/NOTES.md): cdc_trickle and batch_queries are the
gated ones listed in BENCHMARK.json; cdc_bulk runs by hand. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. `--cores`
sets local[n] (default 4), and `--record` rewrites the batch_queries
expectation file from this run's results.

The notes and the metrics under their per-workload names are printed
first; the last line is the result object.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # runs write only under .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    build.build()

    work = build.build_dir() / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.build_dir() / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(a.cores),
               SPARK_LOCAL_DIRS=str(work / "tmp"))
    env.pop("SPARK_MASTER", None)
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bench", str(build.BENCH), "--work", str(work),
            "--data", str(build.BENCH / "data" / "sf0.01")]
    if a.record:
        cmd.append("--record")

    log = logs / f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {TIMEOUT_S} s, see {log}\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in proc.stdout.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}), see {log}\n")
        return proc.returncode or 4

    correct = result["failed"] == 0 and result["attempted"] > 0
    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            v = result["e2e"].get(m["name"], {}).get("value")
            if v is None or not math.isfinite(v) or v <= 0:
                sys.stderr.write(f"perfbench: no value for {m['name']}\n")
                correct = False
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for k, v in result["layers"].items():
            print(f"layer {k} = {v}")
        # a layer this workload bypasses did no work: it reads 0
        for m in spec["per_layer"]:
            v = result["layers"].get(m["name"])
            metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
