"""Build the benchmark: compile the repository's main sources together with
the benchmark's own sources with the Scala compiler that ships in Spark's
jars, into <build dir>/classes. A stamp over every source file skips the
build when nothing changed.

Run directly (`python3 benchmark/build.py`) or through run.py.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("benchmark: Spark's jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"benchmark: the program's sources are missing ({main})")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files, ROOT / "src" / "main" / "resources"


def build():
    """Compile if needed; return the classpath to run with."""
    files, resources = sources()
    jars = spark_jars()
    out = build_dir() / "classes"
    h = hashlib.sha256()
    for f in files + sorted(p for p in resources.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = out / ".stamp"
    if not (stamp.exists() and stamp.read_text() == h.hexdigest()):
        if out.exists():
            shutil.rmtree(out)
        out.mkdir(parents=True)
        args = out.parent / "scalac-args.txt"
        args.write_text("\n".join(str(f) for f in files))
        cp = f"{jars}/*"
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", str(out), "-classpath", cp, f"@{args}"],
                           stdout=sys.stderr)
        if r.returncode != 0:
            sys.exit("benchmark: compilation failed")
        if resources.is_dir():
            shutil.copytree(resources, out, dirs_exist_ok=True)
        stamp.write_text(h.hexdigest())
    return f"{out}:{jars}/*"


if __name__ == "__main__":
    print(build())
