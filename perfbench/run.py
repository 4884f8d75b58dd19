#!/usr/bin/env python3
"""Benchmark of the engine: the reference ETL job (batch and streaming) and
the core query board, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine from ``src/main/scala``
together with the harness in ``perfbench/src`` (sbt, offline). Each run
generates its inputs from ``--seed``, starts one JVM that runs the workload
on ``local[nproc]`` through the engine's public entry points, checks every
answer against an oracle computed here, and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Everything it writes stays under ``$CARGO_TARGET_DIR`` (default
``.bench_build``) in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import fixtures  # noqa: E402

WORKLOADS = ("etl_batch", "board_core")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "live_heap_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "tables.load_s": ("s", "lower"),
    "tables.load_jobs": ("count", "lower"),
    "plan.analysis_s": ("s", "lower"),
    "plan.optimize_s": ("s", "lower"),
    "plan.physical_s": ("s", "lower"),
    "plan.exchanges": ("count", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.spill_bytes": ("bytes", "lower"),
    "extract.s": ("s", "lower"),
    "extract.pages": ("count", "higher"),
    "extract.tasks": ("count", "lower"),
    "extract.input_bytes": ("bytes", "higher"),
    "transform.s": ("s", "lower"),
    "validate.s": ("s", "lower"),
    "validate.valid_rows": ("count", "higher"),
    "validate.quarantined_rows": ("count", "lower"),
    "upsert.s": ("s", "lower"),
    "upsert.jobs": ("count", "lower"),
    "upsert.read_bytes": ("bytes", "lower"),
    "upsert.write_bytes": ("bytes", "lower"),
    "upsert.files_written": ("count", "lower"),
    "upsert.write_amp": ("ratio", "lower"),
    "snapshot.bytes_per_input_byte": ("ratio", "lower"),
    "stream.append_s": ("s", "lower"),
    "stream.jobs": ("count", "lower"),
    "stream.task_cpu_s": ("s", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.overhead_ms": ("ms", "lower"),
    "stream.input_rows": ("count", "higher"),
    "stream.marker_skips": ("count", "lower"),
    "stream.batches_per_append": ("count", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.cpu_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "harness.self_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_HEAP = "4g"
RUN_DEADLINE_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(out):
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(out, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    log("building (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        homes = [os.path.dirname(os.path.abspath(d)) for d in env.get("PATH", "").split(os.pathsep) if d]
        homes = [h for h in homes if glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))]
        if not homes:
            raise BenchError("SPARK_HOME is unset and no Spark distribution is on PATH")
        env["SPARK_HOME"] = homes[0]
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and "classes" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    classpath = lines[-1].strip()
    oracle = os.path.join(out, "oracle_sql.json")
    subprocess.run([java_bin(), "-cp", classpath, "perfbench.Main", "--dump-oracle", oracle],
                   check=True, timeout=120, stdout=subprocess.DEVNULL)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


# ---- the JVM ------------------------------------------------------------------

def out_dir():
    """Where the benchmark builds and writes: ``$CARGO_TARGET_DIR/perfbench``,
    by default ``.bench_build/perfbench``, in the checkout."""
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, work, workload, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--cores", str(cores())]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError("JVM exited with %d" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---- workloads: inputs, checks, metrics -----------------------------------------

def prepare(workload, seed, work, out):
    """Generates the inputs; returns what the check needs."""
    if workload == "etl_batch":
        return fixtures.batch_fixtures(seed, os.path.join(work, "fixtures"))
    if workload == "board_core":
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sql = json.load(f)
        order = sorted(sql)
        random.Random(seed).shuffle(order)
        with open(os.path.join(work, "order.txt"), "w") as f:
            f.write("\n".join(order) + "\n")
        tables = os.path.join(work, "tables")
        fixtures.board_tables(tables)  # the corpus: the same for every seed
        return fixtures.board_oracle(tables, sql)
    raise BenchError("unknown workload %s" % workload)


def check(workload, res, expected, work):
    """(attempted, failed): a wrong answer counts as a failed operation."""
    ops = res["ops"]
    if workload == "etl_batch":
        failed = 0
        for op in ops:
            want = expected[op["fixture"]]
            got = {"rows": op["rows"], "hash": op["hash"], "keyless": op["keyless"],
                   "quarantined": op["quarantined"], "valid": op["valid"]}
            if got != want:
                log("etl_batch mismatch on %s: %s != %s" % (op["fixture"], got, want))
                failed += 1
        if "stream_final" in res:  # the traced run's streaming pass, one more operation
            got = dict(res["stream_final"])
            want = {k: v for k, v in expected[got.pop("fixture")].items() if k != "valid"}
            if got != want:
                log("etl_batch streaming pass mismatch: %s != %s" % (got, want))
                failed += 1
            return len(ops) + 1, failed
        return len(ops), failed
    if workload == "board_core":
        bad = set()
        rows = {}
        for q, want in expected.items():
            got = fixtures.spark_result(os.path.join(work, "results", q))
            rows[q] = got["rows"]
            if got != want:
                log("board_core %s: result differs from the DuckDB oracle" % q)
                bad.add(q)
        attempted = failed = 0
        for op in ops:
            for q, n in op["counts"].items():
                attempted += 1
                if q in bad or n != rows[q]:
                    failed += 1
        return attempted, failed
    raise BenchError("unknown workload %s" % workload)


def wall_seconds(workload, res):
    """One unit of work: the median operation on the ETL workloads; on the
    board, the sum over queries of each query's median repetition."""
    if workload == "board_core":
        return sum(res["query_median_s"].values())
    return statistics.median(op["s"] for op in res["ops"])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found under %s/src/main/scala" % ROOT)
        return 2
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    try:
        classpath = build(out)
        t0 = time.time()
        deadline = t0 + RUN_DEADLINE_S
        work = os.path.join(out, "run-" + args.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        expected = prepare(args.workload, args.seed, work, out)
        res = run_jvm(classpath, work, args.workload, args.seconds, args.trace, deadline)
        attempted, failed = check(args.workload, res, expected, work)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log("failed: %s" % e)
        return 1

    wall = wall_seconds(args.workload, res)
    ops = res["ops"]
    # progress lines: per operation its seconds, CPU, GC and JIT compile
    # seconds and jobs; per ETL warm-up run its seconds and JIT seconds
    print("ops=%d jobs_timed=%d session_start_s=%.2f jvm_to_ready_s=%.2f op(s,cpu,gc,jit,jobs)=%s" % (
        len(ops), res["jobs_timed"], res["session_start_s"], res["jvm_to_ready_s"],
        [tuple(round(op[k], 2) for k in ("s", "cpu_s", "gc_s", "jit_s", "jobs")) for op in ops]))
    if "warmups" in res:
        print("warm-ups (s, jit_s):", [tuple(round(x, 2) for x in w) for w in res["warmups"]])
    print("heap samples (MB):", [round(x, 1) for x in res["heap_samples_mb"]])
    if args.trace:
        layers = dict(res.get("layers", {}))
        layers["trace.wall_s"] = wall
        values = {k: (layers.get(k, 0.0), u) for k, (u, _) in PER_LAYER.items()}
    else:
        values = {
            "setup_s": (res["ready_epoch_ms"] / 1e3 - t0, "s"),
            "wall_s": (wall, "s"),
            "live_heap_mb": (res["heap_max_mb"], "MB"),
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
