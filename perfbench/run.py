#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 4 --trace 0

It builds the engine and the harness from source (once per source state,
under .bench_build/), runs the harness JVM (perfbench/src, graft.perfbench.Main),
checks every checked result against the DuckDB oracle of the query that
defines it (fingerprints cached per corpus under .bench_data/), and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. --quick runs the single-copy base corpus with one set-up,
for the benchmark's own tests. Exits non-zero, printing no result, when
the build, the run or the check cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
TOTAL_BUDGET_S = 170
JVM_HEAP = "2g"

END_TO_END = {"pass_s": "s", "op_p50_s": "s", "op_p90_s": "s", "setup_s": "s",
              "heap_retained_mb": "MB"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "src", "test", "scala", "graft", "GenSf1.scala"),
           os.path.join(ROOT, "src", "test", "scala", "graft", "SparkTestBase.scala"),
           os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout or when this process is
    stopped, kills the whole group (sbt runs its JVM as a child) and waits
    for it before raising."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for src in SOURCES:
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns the classpath."""
    for src in SOURCES:
        if not os.path.exists(src):
            fail(f"missing {os.path.relpath(src, ROOT)}: run from the root of a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set (the build and the run use $SPARK_HOME/jars)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    log("building engine + harness with sbt")
    t0 = time.time()
    try:
        code, out, err = run_group(cmd, 850, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                  stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (exit {code})")
    cp = out.strip().splitlines()[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, mode, args, out_dir, deadline):
    tmp = os.path.join(BUILD, "tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(DATA, exist_ok=True)
    # graft.BoxLock on a file in the checkout, the only place a run may write:
    # it keeps two runs in one checkout apart, not runs from elsewhere. The
    # harness refuses to measure when the lock is not held after the wait.
    env = dict(os.environ, SPARK_GRAFT_LOCK=os.path.join(BUILD, "box.lock"),
               SPARK_GRAFT_LOCK_WAIT_S="60", PERFBENCH_HOME=HERE)
    # a fixed-size heap: no resizing mid-run, steadier pause times
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main", mode, args.workload, str(args.seed),
              str(args.seconds), "1" if args.trace else "0", DATA, out_dir]
           + (["quick"] if args.quick else []))
    log_path = os.path.join(BUILD, f"jvm-{args.workload}.log")
    try:
        with open(log_path, "w") as lf:
            code, _, _ = run_group(cmd, max(10, deadline - time.time()), cwd=ROOT, env=env,
                                   stdout=lf, stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        fail(f"harness JVM timed out; log in {log_path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"harness JVM ({mode}) failed (exit {code})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl", "curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--quick", action="store_true")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so run_group stops its children
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    deadline = time.time() + TOTAL_BUDGET_S
    cp = build()
    # a first run in a fresh checkout spends its budget on the build
    deadline = max(deadline, time.time() + 150)
    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        t0 = time.time()
        run_jvm(cp, "corpus", args, out_dir, deadline - 20)
        corpus_s = time.time() - t0
        run_jvm(cp, "run", args, out_dir, deadline - 20)
        jvm_s = time.time() - t0 - corpus_s
        with open(os.path.join(out_dir, "result.json")) as f:
            res = json.load(f)

        sys.path.insert(0, HERE)
        sys.dont_write_bytecode = True
        import oracle  # noqa: E402  (duckdb is imported only once a result exists)
        wrong = oracle.check(res, out_dir, os.path.join(DATA, "oracle"))
        check_s = time.time() - t0 - corpus_s - jvm_s
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    attempted = int(res["attempted"])
    failed_groups = {c["group"]: c["ops"] for c in res["checks"] if c["name"] in wrong}
    failed = min(attempted, int(res["failed"]) + sum(failed_groups.values()))
    for name, msg in sorted(res["errors"].items()):
        log(f"op {name} failed: {msg}")
    for name, msg in sorted(wrong.items()):
        log(f"check {name} wrong: {msg}")
    st = res["stamps"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "passes": res["passes"], "ops_measured": res["ops_measured"],
                      "checks": len(res["checks"]), "failed_frac": failed / attempted,
                      "op_medians_s": res["op_medians_s"], "pass_walls_s": res["pass_walls_s"],
                      "load_avg": [st["load_avg_start"], st["load_avg_end"]],
                      "lock": {"path": st["lock_path"], "acquired": st["lock_acquired"],
                               "wait_s": st["lock_wait_s"]},
                      "corpus_s": corpus_s, "jvm_s": jvm_s, "check_s": check_s,
                      "session_conf": st["session_conf"]}))
    units = END_TO_END if not args.trace else None
    metrics = {k: {"value": v, "unit": units[k] if units else layer_unit(k)}
               for k, v in res["metrics"].items()}
    print(json.dumps({"correct": failed == 0 and not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name in ("exec.cpu_util", "exec.stage_skew",
                                          "writers.write_amp", "readers.rows_per_result"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
