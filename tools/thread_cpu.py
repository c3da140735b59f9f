#!/usr/bin/env python3
"""CPU per JVM thread group over perfbench's timed passes.

    python3 tools/thread_cpu.py --workload batch_scan --seed 1 --seconds 10

Runs `perfbench/run.py` with the given arguments (from the repository
root) and, while its JVM runs, polls `/proc/<pid>/task/*/stat` every
POLL_S seconds. Thread names are grouped with their numeric suffix
removed ("C2 CompilerThre", "GC Thread", "Executor task l", ...). The
JVM's progress lines in `.bench_out/<workload>-<seed>-<trace>/jvm.log`
mark the timed passes: they start after the "set-up warm pass" line and
each "pass N:" line ends one. For every pass, and summed over them,
the script prints the CPU seconds of each group and its share of the
process. A thread that exits between two polls keeps its last reading,
so a short-lived JIT compiler thread loses at most one poll interval.

It only reads: the benchmark, its inputs and the JVM run unchanged.
Clock-tick resolution is 1/SC_CLK_TCK s per thread.
"""
import argparse
import json
import os
import re
import subprocess
import sys
import time

POLL_S = 0.02
TICK = os.sysconf("SC_CLK_TCK")


def children(pid):
    """Pids whose parent is `pid`."""
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(rest[1]) == pid:
                out.append(int(p))
    return out


def find_jvm(root_pid):
    """The perfbench.Main JVM below `root_pid`, or None."""
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        for c in children(pid):
            try:
                with open(f"/proc/{c}/cmdline", "rb") as f:
                    if b"perfbench.Main" in f.read():
                        return c
            except OSError:
                pass
            todo.append(c)
    return None


def threads(pid):
    """{tid: (group name, cpu seconds)} of the live threads of `pid`."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        name = s[s.index("(") + 1:s.rindex(")")]
        rest = s[s.rindex(")") + 2:].split()
        out[int(tid)] = (re.sub(r"[#\-]?\d+$", "", name).strip(),
                         (int(rest[11]) + int(rest[12])) / TICK)
    return out


def by_group(seen, base):
    """CPU seconds per group between `base` and `seen` ({tid: (name, cpu)})."""
    out = {}
    for tid, (name, cpu) in seen.items():
        d = cpu - base.get(tid, (name, 0.0))[1]
        if d > 0:
            out[name] = out.get(name, 0.0) + d
    return out


def report(label, groups):
    total = sum(groups.values())
    print(f"{label}: {total:.3f} s")
    for name, s in sorted(groups.items(), key=lambda kv: -kv[1]):
        if s >= 0.005:
            print(f"  {name:<18} {s:7.3f} s  {100 * s / total:5.1f} %")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write the per-pass groups to this file")
    a = ap.parse_args()
    log = os.path.join(".bench_out", f"{a.workload}-{a.seed}-{a.trace}", "jvm.log")
    proc = subprocess.Popen([sys.executable, "perfbench/run.py", "--workload", a.workload,
                             "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
    jvm = None
    seen = {}          # tid -> (group, last cpu reading), exited threads kept
    marks = []         # (label, snapshot of seen) at the timed-pass boundaries
    done_lines = 0
    while proc.poll() is None:
        if jvm is None:
            jvm = find_jvm(proc.pid)
        if jvm is not None:
            seen.update(threads(jvm))
            try:
                with open(log) as f:
                    lines = f.read().splitlines()
            except OSError:
                lines = []
            for ln in lines[done_lines:]:
                if "set-up warm pass" in ln:  # the last warm pass ends set-up
                    marks = [("start", dict(seen))]
                m = re.search(r"\] (pass \d+):", ln)
                if m:
                    marks.append((m.group(1), dict(seen)))
            done_lines = max(done_lines, len(lines))
        time.sleep(POLL_S)
    summary = proc.stdout.read().strip().splitlines()
    print(summary[-1] if summary else "perfbench printed nothing")
    if len(marks) < 2 or marks[0][0] != "start":
        sys.exit("no timed pass was seen in the JVM log")
    passes = {}
    for (_, before), (label, after) in zip(marks, marks[1:]):
        passes[label] = by_group(after, before)
        report(label, passes[label])
    report("all timed passes", by_group(marks[-1][1], marks[0][1]))
    if a.json:
        with open(a.json, "w") as f:
            json.dump(passes, f, indent=1)


if __name__ == "__main__":
    main()
