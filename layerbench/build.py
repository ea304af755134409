"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (layerbench/src) into one class directory, with the Scala
compiler that ships with Spark and against Spark's jars, the classpath the
engine's sbt build uses. The class directory lives under the build
directory: $CARGO_TARGET_DIR when set, else .bench_build, relative to the
checkout root. A stamp over every source file skips the compile when
nothing changed, so no build work falls inside a timed run.

    python3 layerbench/build.py      # from the checkout root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def spark_jars():
    """Directory holding Spark's jars: $SPARK_HOME/jars, else the one next
    to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("layerbench: Spark not found (set SPARK_HOME)")
    return jars


def build_dir(root):
    return (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"layerbench: no engine sources under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(root, files, jars):
    h = hashlib.sha256()
    h.update(pathlib.Path(__file__).read_bytes())
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root):
    """Returns the class directory, compiling first if any source changed."""
    root = pathlib.Path(root).resolve()
    jars = spark_jars()
    files = sources(root)
    out = build_dir(root)
    classes = out / "classes"
    want = stamp(root, files, jars)
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print(f"layerbench: compiling {len(files)} sources into {classes}", file=sys.stderr)
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    finally:
        argfile.unlink(missing_ok=True)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"layerbench: compile failed ({rc})")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(pathlib.Path.cwd()))
