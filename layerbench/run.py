"""Runs one benchmark workload and prints its result as the last line.

From the checkout root:

    python3 layerbench/run.py --workload pipeline --seed 42 --seconds 15 --trace 0
    python3 layerbench/run.py --selftest

Builds the engine and the benchmark first when a source changed (see
build.py), then launches one JVM from the prebuilt classpath with a fixed
heap and a fresh temporary directory, so every run starts from the same
state. Everything the run writes stays under the build directory and is
deleted when the run ends. `--record` stores the run's output digests as
the expected ones (use it only at the default seed, on trusted code).
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
WORKLOADS = ("pipeline", "session", "stream")
HEAP = "3g"
DEFAULT_SEED = 42
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    cp = f"{classes}{os.pathsep}{build.spark_jars()}/*"
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", *opens,
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-cp", cp, main] + args)


def launch(cmd, work):
    """Runs `cmd`, returning (exit code, stdout lines); stops it on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        print(f"layerbench: run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 124, out.splitlines()
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def record(report_line, workload):
    report = json.loads(report_line[len("report "):])
    path = BENCH / "expected.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    expected.setdefault(workload, {}).setdefault(f"nproc={report['nproc']}", {}) \
        .update(report["digests"])
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")
    if a.record and a.seed != DEFAULT_SEED:
        p.error(f"--record stores the digests of the default seed {DEFAULT_SEED} only")
    root = pathlib.Path.cwd()
    classes = build.build(root)
    work = build.build_dir(root) / "runs" / f"{a.workload or 'selftest'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selftest:
            rc, lines = launch(java_cmd(classes, work, "layerbench.SelfTest", []), work)
            print("\n".join(lines))
            return rc
        rc, lines = launch(java_cmd(classes, work, "layerbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--home", str(BENCH)]), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = valid_result(lines[-1]) if lines else None
    print("\n".join(lines[:-1] if result else lines))
    if rc != 0 or result is None:
        print(f"layerbench: the run failed (exit {rc}) without a result", file=sys.stderr)
        return rc or 1
    if a.record:
        record(next(l for l in lines if l.startswith("report ")), a.workload)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
