"""Benchmark entry point: builds the program from source, then runs one
workload in a fresh JVM and relays its result.

    python3 benchmark/run.py --workload log_raw --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 1 the metrics are the
per-layer ones, and the spans go to <build dir>/work/traces/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("log_raw", "corpus_turns")
HEAP = "3g"
TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the repository's
# build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--size", default="full", choices=("full", "tiny"),
                   help="input size; tiny is for the benchmark's own tests")
    p.add_argument("--corrupt", type=int, default=-1,
                   help="damage this timed unit's output before its check (self-test)")
    a = p.parse_args()
    # a terminated run still stops (and waits for) the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("benchmark: terminated"))

    classpath = build.build()
    out = build.build_dir()
    for d in ("tmp", "spark-local", "work", "jvm"):
        (out / d).mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the build directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={out / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={out / 'jvm' / 'warehouse'}",
        f"-Dderby.system.home={out / 'jvm'}",
        f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "bench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(out / "work"), "--size", a.size,
        "--corrupt", str(a.corrupt),
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=out / "jvm", env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"benchmark: {a.workload} failed (exit code {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("benchmark: malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
