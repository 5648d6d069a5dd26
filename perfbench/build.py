"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark (`perfbench/src`) from source with the Scala compiler shipped
in the Spark distribution's jars, the same jars `build.sbt` builds against.

    python3 perfbench/build.py        # build into .bench_build/classes

A stamp over every source path and content makes a rebuild happen only
when a source changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars() -> Path:
    """`$SPARK_JARS`, else the `unmanagedBase` jar directory of build.sbt,
    else `$SPARK_HOME/jars`."""
    if "SPARK_JARS" in os.environ:
        return Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.exists() else None
    if m:
        return Path(m.group(1))
    return Path(os.environ.get("SPARK_HOME", "spark")) / "jars"


SPARK_JARS = spark_jars()


def build_dir() -> Path:
    return ROOT / ".bench_build"


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + sorted((BENCH / "src").rglob("*.scala"))


def resources() -> Path:
    return ROOT / "src" / "main" / "resources"


def classpath() -> str:
    return os.pathsep.join([str(build_dir() / "classes"), str(resources()),
                            str(SPARK_JARS / "*")])


def build() -> None:
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"perfbench: no Spark jars at {SPARK_JARS}")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args = build_dir() / "scalac.args"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    log = build_dir() / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(SPARK_JARS / "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-Ybackend-parallelism", "4", "-d", str(classes), f"@{args}"],
            stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {rc}), see {log}")
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    build()
