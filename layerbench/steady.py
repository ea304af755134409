"""Steadiness runner: runs each workload in two sets of runs, one seed per
run, and prints every end-to-end metric's median and quartiles per set,
its spread (quartile distance over median) against a third of its bound,
and whether the two sets' medians agree within the bound.

From the checkout root:

    python3 layerbench/steady.py                       # 2 sets x 10 runs, all workloads
    python3 layerbench/steady.py --runs 5 --sets 1 --workloads stream

Seeds run from --first-seed upwards and never repeat across sets. Exits
non-zero when a spread (other than setup_s's) exceeds its bound, when two
sets disagree by more than a bound, or when a run fails.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT_FILE = "BENCHMARK.json"


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first, second, better):
    """Share by which `second` is worse than `first`."""
    if not first:
        return float("inf")
    change = (second - first) / abs(first)
    return change if better == "lower" else -change


def run_once(command, workload, seed, seconds):
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    try:
        result = json.loads(last)
    except ValueError:
        result = None
    if out.returncode != 0 or not result or not result.get("correct"):
        print(f"  run failed: {workload} seed {seed} (exit {out.returncode})", file=sys.stderr)
        return None
    return {"wall_s": wall, **{k: v["value"] for k, v in result["metrics"].items()}}


def main():
    bench = json.loads(pathlib.Path(ROOT_FILE).read_text())
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="*", default=names, choices=names)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2, choices=(1, 2))
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    if a.runs < 2:
        p.error("--runs must be at least 2 to have quartiles")
    metrics = bench["end_to_end"]
    ok = True
    walls = {}
    seed = a.first_seed
    for w in a.workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for _ in range(a.runs):
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                seed += 1
                if r is None:
                    ok = False
                else:
                    runs.append(r)
                    print(f"  {w} set {s + 1} seed {seed - 1}: " +
                          " ".join(f"{m['name']}={r[m['name']]:.4g}" for m in metrics) +
                          f" (run took {r['wall_s']:.1f} s)", flush=True)
            sets.append(runs)
        walls[w] = [r["wall_s"] for runs in sets for r in runs]
        print(f"{w}:")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                if len(vals) < 2:
                    ok = False
                    continue
                q1, q2, q3 = quartiles(vals)
                sp = spread(vals)
                meds.append(q2)
                gated = name != "setup_s"
                flag = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
                if gated and sp > bound:
                    ok = False
                print(f"  {name:18s} set {s + 1}: median {q2:.5g} {m['unit']}  "
                      f"q1 {q1:.5g}  q3 {q3:.5g}  spread {sp:.3f} "
                      f"(bound {bound}, third {bound / 3:.3f}){'' if gated else ' [not gated]'} {flag}")
            if len(meds) == 2:
                d = worse_by(meds[0], meds[1], m["better"])
                agree = d <= bound
                ok = ok and agree
                print(f"  {name:18s} set 2 vs set 1: worse by {d:+.3f} "
                      f"-> {'agree' if agree else 'DISAGREE'}")
    if all(walls.values()):
        # a full comparison makes 22 runs per workload plus 4 more
        total = sum(22 * statistics.mean(v) for v in walls.values()) + \
            4 * max(statistics.mean(v) for v in walls.values())
        print("mean run wall time: " + ", ".join(
            f"{w} {statistics.mean(v):.1f} s" for w, v in walls.items()) +
            f"; 4 + 22 x workloads runs take about {total:.0f} s")
    print("steady" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
