"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) into .bench_build/classes with the Scala compiler
that ships with Spark, and skips the compile when no source has changed.

Run from the root of a checkout:  python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BUILD = pathlib.Path(".bench_build")
CLASSES = BUILD / "classes"
PROGRAM = pathlib.Path("src/main/scala")
BENCH = pathlib.Path("perfbench/src")


def spark_jars() -> str:
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def classpath() -> str:
    return f"{CLASSES}:{spark_jars()}/*"


def sources() -> list:
    if not PROGRAM.is_dir() or not BENCH.is_dir():
        raise SystemExit(f"build: {PROGRAM} and {BENCH} must both exist under {os.getcwd()}")
    return sorted(str(p) for root in (PROGRAM, BENCH) for p in root.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0" + pathlib.Path(f).read_bytes() + b"\0")
    return h.hexdigest()


def build() -> str:
    """Compiles if needed; returns the source digest the classes match."""
    files = sources()
    stamp = digest(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return stamp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", f"{spark_jars()}/*", *files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"build: scalac exited with {done.returncode}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return stamp


if __name__ == "__main__":
    print(build())
