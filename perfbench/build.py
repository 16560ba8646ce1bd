"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`, resources from
`src/main/resources`) together with the benchmark's own
(`perfbench/src/main/scala`, `perfbench/src/test/scala`) with the Scala
compiler that ships in Spark's jars directory (`$SPARK_HOME/jars`; without
`SPARK_HOME`, that of the first `spark-submit` on `PATH` whose install has
one) — the same jars the repository's sbt build compiles against. Classes
land in `.bench_build/perfbench/classes-<hash>` at the checkout root, keyed
by a hash of every input, so an unchanged checkout compiles once.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"

SOURCE_DIRS = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala", HERE / "src" / "test" / "scala"]
RESOURCE_DIR = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        jars = submit.resolve().parent.parent / "jars"
        if submit.is_file() and any(jars.glob("scala-compiler*.jar")):
            return jars
    raise BuildError("Spark not found: set SPARK_HOME")


def classpath() -> str:
    return str(spark_jars() / "*")


def _inputs():
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("source directory missing: " + ", ".join(str(d.relative_to(ROOT)) for d in missing))
    if not spark_jars().is_dir():
        raise BuildError(f"Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    resources = sorted(p for p in RESOURCE_DIR.rglob("*") if p.is_file()) if RESOURCE_DIR.is_dir() else []
    return files, resources


def build() -> Path:
    """Compile if needed; return the classes directory."""
    files, resources = _inputs()
    h = hashlib.sha256()
    for p in files + resources + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    staging = OUT / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in files) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", classpath(), "scala.tools.nsc.Main",
           "-classpath", classpath(), "-d", str(staging), "-nowarn", "-encoding", "UTF-8", f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for p in resources:
        dest = staging / p.relative_to(RESOURCE_DIR)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    (staging / ".complete").write_text("ok\n")
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
