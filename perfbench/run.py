#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed under .bench_out/ (removed again when the run passes
its checks), runs the workload in one JVM (perfbench.Main), checks the
outputs and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 they are the per-layer
metrics, and the run's span ledger is kept as
.bench_out/<workload>-<seed>-ledger.json.

Workloads: batch_iterative, batch_scan, stream_replay (see NOTES.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170          # one run, after the build
BUILD_DEADLINE_S = 700

SCALE_FACTOR = 0.01
# NOTES.md says why these queries.
BATCH = {
    # driver-loop queries: the catalogue entry runs eager rounds while
    # building the DataFrame
    "batch_iterative": ["q_kcenter", "q_gate_tradeoff"],
    # single-pass scan, window, kernel and join queries
    "batch_scan": ["q_ind_full", "q_hash_classifier", "q_join_star"],
}
STREAM = dict(symbols=100, history=10, tail=19, triggers=40, late_share=0.05)
# batch_scan replays one stream trigger per pass; stream_replay replays only
STREAMED = ("batch_scan", "stream_replay")
WORKLOADS = sorted(BATCH) + ["stream_replay"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src/main", "build.sbt", "perfbench/build.sbt",
                 "project/build.properties", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        walk = [(ROOT, [], [base])] if os.path.isfile(path) else sorted(os.walk(path))
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds if needed; returns the runtime classpath of perfbench.Main."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a checkout of the program (src/main/scala/graft missing)")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec["digest"] == digest:
            return rec["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "export perfbench/Runtime/fullClasspath"],
                                cwd=os.path.join(ROOT, "perfbench"), stdout=f,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, budget_s):
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload exceeded {budget_s:.0f} s; see {work}/jvm.log")
    if rc != 0:
        fail(f"JVM exited with {rc}; see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(2, os.cpu_count() or 1),
                    help="n of the local[n] session (default: 2; NOTES.md says why)")
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(OUT, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    setup0 = time.time()            # set-up: input generation to first timed operation
    if a.workload in BATCH:
        inputs.write_tables(os.path.join(work, "tables"), SCALE_FACTOR)
        with open(os.path.join(work, "order.txt"), "w") as f:
            f.write("\n".join(inputs.query_order(BATCH[a.workload], a.seed)) + "\n")
    if a.workload in STREAMED:
        inputs.write_stream(os.path.join(work, "stream"),
                            inputs.stream_schedule(a.seed, **STREAM))

    budget = DEADLINE_S - (time.time() - setup0)
    res = run_jvm(cp, [a.workload, work, str(a.seconds), str(a.trace), str(a.cores),
                       str(a.seed)], work, budget)
    attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])

    if a.workload in BATCH:
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle = json.load(f)
        verdicts = check.check(os.path.join(work, "tables"), os.path.join(work, "results"),
                               oracle)
        bad = {q: v for q, v in verdicts.items() if v is not None}
        failed += len(bad)
        errors += [f"{q}: {v}" for q, v in sorted(bad.items())]

    for e in errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)

    ops, walls, cpus = res["op_ms"], res["pass_wall_s"], res["pass_cpu_s"]
    if a.trace == 0:
        values = {"setup_s": res["first_timed_ms"] / 1e3 - setup0,
                  "pass_cpu_s": stats.median(cpus),
                  "heap_retained_mb": res["heap_retained_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in units("end_to_end").items()}
        pct = stats.tail(ops)[0] if len(ops) > 10 else 0.0
        tail = (f"p{pct:.1f} {stats.tail(ops)[1]:.1f} ms with 10 samples beyond it"
                if pct > 50 else "none above the median (a tail needs 10 samples beyond it)")
        print(f"{a.workload} seed {a.seed}: {len(walls)} passes: pass_wall_s "
              f"{[round(w, 3) for w in walls]} (median {stats.median(walls):.3f}), pass_cpu_s "
              f"{[round(c, 3) for c in cpus]}; operation p50 {stats.median(ops):.1f} ms over "
              f"{len(ops)} operations, tail {tail}; attempted {attempted}, failed {failed}; "
              f"info {json.dumps(res['info'])}")
    else:
        named = units("per_layer")
        if set(named) != set(res["layers"]):
            fail(f"traced metrics {sorted(res['layers'])} differ from BENCHMARK.json per_layer")
        metrics = {k: {"value": stats.median(res["layers"][k]), "unit": u}
                   for k, u in named.items()}
        ledger = os.path.join(OUT, f"{a.workload}-{a.seed}-ledger.json")
        shutil.copyfile(os.path.join(work, "ledger.json"), ledger)
        print(f"{a.workload} seed {a.seed}: traced; ledger {os.path.relpath(ledger, ROOT)}; "
              f"samples per metric: {json.dumps({k: len(v) for k, v in res['layers'].items()})}")
    if failed == 0:
        shutil.rmtree(work)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def units(section):
    """{metric: unit} of one metric list of BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    main()
