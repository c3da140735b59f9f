#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload: a base revision against the working tree.

    python3 tools/perfbench_ab.py --workload batch_iterative --seeds 331-336,341-344 \\
        [--base HEAD] [--seconds 10]

Run from the repository root. The base revision (default HEAD; pass
HEAD~1 once the change is committed) is exported with `git archive`
into a temporary directory, which is removed afterwards; the working
tree is the change. Each seed is one pair: both sides run
`perfbench/run.py --workload W --seed S --seconds T` from their own
checkout (each builds its own `.bench_build/` on first use), the side
that goes first alternating from pair to pair so that drift on the
machine does not favour one side.

Prints every run's end-to-end metrics (the `end_to_end` list of
BENCHMARK.json), then per metric each side's median and quartiles,
the pairs the change won (strictly better in the metric's direction),
and whether the medians differ by more than the base's interquartile
range — the rule a claimed gain has to pass. A failed run stops the
script. perfbench/ is read, never changed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, dest):
    """Writes the tree of `rev` into `dest` (a plain export, no git metadata)."""
    archive = subprocess.Popen(["git", "archive", "--format=tar", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def run(root, workload, seed, seconds):
    """The metrics of one perfbench run from checkout `root`: {name: value}."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if not res or not res["correct"]:
        sys.exit(f"run failed in {root} (seed {seed}):\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 331-336,341-344: one pair per seed")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        metrics = json.load(f)["end_to_end"]
    work = tempfile.mkdtemp(prefix="perfbench-ab-")
    try:
        export(a.base, work)
        sides = {"base": work, "change": os.getcwd()}
        got = {"base": [], "change": []}
        for i, seed in enumerate(seeds(a.seeds)):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                got[side].append(run(sides[side], a.workload, seed, a.seconds))
                vals = " ".join(f"{k} {v:.3f}" for k, v in got[side][-1].items())
                print(f"pair {i + 1} seed {seed} {side:<6} {vals}", flush=True)
        print(f"\n{a.workload}: {len(got['base'])} pairs, base {a.base} against the working tree")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            b = [r[name] for r in got["base"]]
            c = [r[name] for r in got["change"]]
            (b1, bm, b3), (c1, cm, c3) = quartiles(b), quartiles(c)
            wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
            print(f"{name}: base median {bm:.3f} [{b1:.3f}, {b3:.3f}], change median "
                  f"{cm:.3f} [{c1:.3f}, {c3:.3f}] ({100 * (cm - bm) / bm:+.1f} %); change "
                  f"wins {wins}/{len(b)}; |median shift| {abs(cm - bm):.3f} "
                  f"{'>' if abs(cm - bm) > b3 - b1 else '<='} base IQR {b3 - b1:.3f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
