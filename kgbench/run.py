#!/usr/bin/env python3
"""KG-construction benchmark: one command per workload run.

    python3 kgbench/run.py --workload kg_lake --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (kgbench/build.py), then runs
`kgbench.Main` in one driver JVM at local parallelism. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`; `--trace 0` reports the end-to-end metrics and
`--trace 1` the per-layer ones. The exit code is 0 only when every
pipeline run succeeded and every output check passed.

`--smoke` shrinks every input (the benchmark's own tests use it); its
numbers are not comparable with full-size runs.

All state (jar, class-data archive, corpus cache, scratch tables, span
dumps) lives under `.bench_build/kgbench` in the checkout.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("kg_lake", "kg_dict", "kg_resume")
DEADLINE_S = 170  # a run must end within 180 s; the JVM is killed before that

# Spark on JDK 17 outside spark-submit needs these opens (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """Driver heap: a quarter of the host's memory, between 1 and 4 GB.

    In local mode the driver JVM is also the executor, so this is the
    executor memory too; 15 GB of RAM gives 3 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(1, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    jar = build.build()
    work = build.OUT
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = os.cpu_count() or 1
    # Class-data sharing: the first run after a build records the classes
    # it loaded, later runs map them instead of loading and verifying them
    # again (several seconds of JVM start-up per run). JVM log output goes
    # to stderr, so the result stays the last line of stdout.
    cds = build.CDS_ARCHIVE
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if cds.is_file()
                else f"-XX:ArchiveClassesAtExit={cds}")
    heap = f"{heap_gb()}g"
    # -XX:-UsePerfData: the JVM would otherwise keep a counters file in the
    # system temp dir, outside the checkout
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData",
            cds_flag, "-Xlog:disable",
            "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{jar}:{build.spark_jars()}/*", "kgbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", str(work)]
           + (["--smoke"] if args.smoke else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    # own process group, so a timeout takes down every thread and child
    proc = subprocess.Popen(cmd, env=env, cwd=build.ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"kgbench: run exceeded {DEADLINE_S} s, killed", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
