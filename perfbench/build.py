"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's JVM
harness (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in Spark's jars. A stamp holding the hash of every
source file skips the compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
BUILD_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars beside a spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(
            os.pathsep) if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources(root: Path) -> list:
    files = []
    for d in SOURCE_DIRS:
        files += sorted((root / d).rglob("*.scala"))
    if not any(f.is_relative_to(root / SOURCE_DIRS[0]) for f in files):
        raise BuildError(f"no program sources under {root / SOURCE_DIRS[0]}")
    return files


def stamp(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(root: Path) -> Path:
    """Returns the classes directory, compiling first if the sources changed."""
    files = sources(root)
    jars = spark_jars()
    build = root / BUILD_DIR
    build.mkdir(exist_ok=True)
    classes = build / "classes"
    want = stamp(root, files)
    with open(build / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = build / "classes.stamp"
        if classes.is_dir() and stamp_file.exists() and \
                stamp_file.read_text() == want:
            return classes
        tmp = build / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        javatmp = build / "tmp"
        javatmp.mkdir(exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={javatmp}",
               "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-classpath", f"{jars}/*", "-nowarn", "-d", str(tmp)]
        cmd += [str(f) for f in files]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            raise BuildError(f"scalac exited with {res.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(want)
        return classes


if __name__ == "__main__":
    try:
        print(ensure_built(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
