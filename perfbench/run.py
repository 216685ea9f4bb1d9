#!/usr/bin/env python3
"""Benchmark entry point: one (workload, seed) run, end to end.

    python3 perfbench/run.py --workload knn_exact --seed 1 --seconds 12 --trace 0

Run from the repository root. The run
  1. builds the engine and the harness from source with sbt (only when a
     source changed since the last build in this checkout), and caches
     the runtime classpath so no metric includes sbt start-up;
  2. generates the workload's inputs from the seed (perfbench/gen.py);
  3. runs the harness (perfbench.Main) in one JVM;
  4. compares every checked query's output with the DuckDB oracle
     (`SparkEntry.oracleSql` and the canonical compare of tools/check.py);
     DuckDB runs while the harness's untimed check pass runs, and the
     harness starts its timed passes only after DuckDB is done;
  5. prints one JSON line: correct, attempted, failed and the metrics
     named in BENCHMARK.json (end-to-end with --trace 0, per-layer with
     --trace 1).

Everything the run writes stays under .bench_build/ in the checkout; the
run directory is removed at the end unless a check failed, and the run
record is kept in .bench_build/records/.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 165
HEAP = "4g"
# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Run a child process to completion; on timeout kill its whole
    process group and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def source_digest():
    """Hash of every input to the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirs, names in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(d for d in dirs if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and harness; returns (runtime classpath, source
    digest)."""
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} beside perfbench/: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness with sbt")
    t0 = time.time()
    rc, out = run_child(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, timeout=840, env=env, stdout=subprocess.PIPE)
    lines = out.decode(errors="replace").strip().splitlines()
    if rc != 0 or not lines:
        die(f"sbt build failed (exit {rc})")
    classpath = lines[-1].strip()
    log(f"build done in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, digest


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"source-sha256:{digest[:16]}"


def duck_answers(data_dir, out_dir):
    """Run each checked query's oracle SQL in DuckDB over the generated
    tables; returns {query: DataFrame or the exception raised}."""
    import duckdb

    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    tables = sorted(os.path.basename(f)[:-len(".parquet")]
                    for f in glob.glob(os.path.join(data_dir, "*.parquet")))
    answers = {}
    for q, sql in oracle.items():
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {os.cpu_count() or 1}")
            con.execute(f"SET temp_directory = '{out_dir}/duck_tmp'")
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
            answers[q] = con.execute(sql).df()
        except Exception as e:  # an oracle error fails the query's check
            answers[q] = e
        finally:
            con.close()
    return answers


def oracle_mismatches(out_dir, queries, answers):
    """Compare each query's Spark output with its DuckDB answer using the
    canonical compare of tools/check.py; returns the queries that failed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import pandas as pd

    bad = []
    for q in queries:
        files = glob.glob(os.path.join(out_dir, "check", q, "*.parquet"))
        duck = answers.get(q)
        if not files or duck is None or isinstance(duck, Exception):
            log(f"oracle: {q}: no Spark output" if not files else
                f"oracle: {q}: {duck or 'no oracle SQL'}")
            bad.append(q)
            continue
        spark = pd.concat([pd.read_parquet(f) for f in files],
                          ignore_index=True)
        with contextlib.redirect_stdout(sys.stderr):
            if not check.compare(q, spark, duck):
                bad.append(q)
    return bad


def run_harness(cmd, data_dir, out_dir):
    """Run the harness JVM. While its (untimed) check pass runs, compute
    the oracle answers, then release it to the timed passes. Returns
    (exit code, oracle answers, seconds spent in DuckDB)."""
    # Spark's scratch space stays in the run directory even when the
    # environment points SPARK_LOCAL_DIRS elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))
    p = subprocess.Popen(cmd, cwd=out_dir, env=env, stderr=sys.stderr,
                         start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S
    answers, duck_s = {}, 0.0
    started = os.path.join(out_dir, "check.started")
    try:
        while p.poll() is None:
            if time.time() > deadline:
                raise subprocess.TimeoutExpired(cmd, RUN_TIMEOUT_S)
            if not answers and os.path.exists(started):
                t0 = time.time()
                answers = duck_answers(data_dir, out_dir)
                duck_s = time.time() - t0
                open(os.path.join(out_dir, "oracle.done"), "w").close()
            time.sleep(0.05)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, answers, duck_s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath, digest = build()
    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    keep = False
    try:
        t0 = time.time()
        rows = gen.generate(a.workload, a.seed, data_dir)
        t1 = time.time()
        java = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
                 f"-Djava.io.tmpdir={out_dir}",
                 "-Dlog4j2.configurationFile="
                 + os.path.join(HERE, "log4j2.properties")]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", classpath, "perfbench.Main",
                   "--workload", a.workload, "--data", data_dir,
                   "--out", out_dir, "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--seed", str(a.seed)])
        try:
            rc, answers, duck_s = run_harness(java, data_dir, out_dir)
        except subprocess.TimeoutExpired:
            die(f"harness timed out after {RUN_TIMEOUT_S} s")
        result_file = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            die(f"harness failed (exit {rc})")
        with open(result_file) as fh:
            result = json.load(fh)

        t2 = time.time()
        bad = oracle_mismatches(out_dir, result["checked"], answers)
        log(f"generate {t1 - t0:.1f} s, harness {t2 - t1:.1f} s "
            f"(DuckDB {duck_s:.1f} s beside the check pass), "
            f"compare {time.time() - t2:.1f} s")
        # a query whose output is wrong fails every execution of it
        failed = min(result["attempted"], result["failed"]
                     + sum(result["attempts"].get(q, 0) for q in bad))
        keep = failed > 0
        attempted = result["attempted"]
        metrics = {}
        for m in wanted:
            if m["name"] not in result["metrics"]:
                die(f"harness did not report {m['name']}")
            metrics[m["name"]] = {"value": result["metrics"][m["name"]],
                                  "unit": m["unit"]}

        record = dict(result, input_rows=rows, oracle_mismatches=bad,
                      commit=commit_id(digest), heap=HEAP,
                      seconds=a.seconds, trace=a.trace)
        rec_dir = os.path.join(BUILD, "records")
        os.makedirs(rec_dir, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(rec_dir, tag + ".json"), "w") as fh:
            json.dump(record, fh, indent=1)
        spans = os.path.join(out_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(rec_dir, tag + ".spans.jsonl"))
        log(f"record: {os.path.relpath(os.path.join(rec_dir, tag + '.json'), ROOT)}")
    finally:
        # a failed check keeps its inputs and outputs for inspection
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
