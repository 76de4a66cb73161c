#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dedup_vector --seed 1 --seconds 6 --trace 0

The first run builds the engine and the harness with sbt (into
perfbench/target) and generates the input tables (into .bench_build/data);
later runs reuse both while the sources are unchanged. Each run then starts
one JVM at local[N], N = the number of cores, runs the workload's queries
one at a time in an order drawn from --seed, checks every query's result
once against its DuckDB oracle SQL, and prints one JSON line last: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See README.md for what each workload and metric covers.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

WORKLOADS = {
    "dedup_vector": dict(kernels=True, queries=["q_ann_pq", "q_decontam"]),
    "lake_stream": dict(kernels=False, queries=[
        "q_snap_skipping", "q_snap_update", "q_stream_tws"]),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp = os.path.join(WORK, "build.stamp")
    key = digest([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")])
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(stamp, "w") as fh:
        fh.write(key)


def tables():
    sys.path.insert(0, HERE)
    import gen_tables
    out = os.path.join(WORK, "data", digest([os.path.join(HERE, "gen_tables.py")])[:16])
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.write(out)
        open(os.path.join(out, "done"), "w").close()
    return out


def check_outputs(data, out_dir, oracle):
    """Compares each query's parquet output with its oracle SQL in DuckDB:
    same columns, same row count, and an empty EXCEPT ALL both ways.
    Returns the mismatches and the row count of each output.

    The oracle's answer depends only on its SQL and the fixed tables, so it
    is computed once per (SQL, tables) and kept in .bench_build/oracle.duckdb."""
    import duckdb
    db = os.path.join(WORK, "oracle.duckdb")
    try:
        con = duckdb.connect(db)
    except duckdb.Error:  # a run killed while writing the cache: start it again
        for f in (db, db + ".wal"):
            if os.path.exists(f):
                os.remove(f)
        con = duckdb.connect(db)
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cached = {r[0] for r in con.execute("SELECT table_name FROM duckdb_tables()").fetchall()}
    bad, rows = [], {}
    for name in sorted(oracle):
        try:
            table = f"oracle_{name}_{hashlib.sha256((data + oracle[name]).encode()).hexdigest()[:16]}"
            if table not in cached:
                con.execute(f"CREATE TABLE {table} AS {oracle[name]}")
            con.execute(f"CREATE OR REPLACE TEMP VIEW spark_out AS SELECT * FROM '{out_dir}/{name}/*.parquet'")
            con.execute(f"CREATE OR REPLACE TEMP VIEW ora_out AS SELECT * FROM {table}")
            scols = sorted(r[0] for r in con.execute("DESCRIBE spark_out").fetchall())
            ocols = sorted(r[0] for r in con.execute("DESCRIBE ora_out").fetchall())
            if scols != ocols:
                bad.append(f"{name}: columns {scols} vs {ocols}")
                continue
            cols = ", ".join(f'"{c}"' for c in scols)
            n1 = rows[name] = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
            n2 = con.execute("SELECT count(*) FROM ora_out").fetchone()[0]
            d1 = con.execute(f"SELECT {cols} FROM spark_out EXCEPT ALL SELECT {cols} FROM ora_out").fetchall()
            d2 = con.execute(f"SELECT {cols} FROM ora_out EXCEPT ALL SELECT {cols} FROM spark_out").fetchall()
            if n1 != n2 or d1 or d2:
                bad.append(f"{name}: rows {n1} vs {n2}, extra_spark={d1[:2]}, extra_oracle={d2[:2]}")
        except Exception as e:  # a missing output or a failing oracle is a mismatch
            bad.append(f"{name}: {e}")
    con.close()
    return bad, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(spark_jars):
        fail("SPARK_HOME must point at a Spark install (its jars/ directory is the classpath)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(WORK, exist_ok=True)
    build()
    data = tables()
    wl = WORKLOADS[a.workload]
    run = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "scratch", "warehouse", "local", "out"):
        os.makedirs(os.path.join(run, d))
    result_file = os.path.join(run, "result.json")
    spans = os.path.join(WORK, "spans", f"{a.workload}-s{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:MaxHeapFreeRatio=100", f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false"]
           + ADD_OPENS + ["-cp", f"{CLASSES}{os.pathsep}{spark_jars}/*", "graftbench.Harness",
                          f"queries={','.join(wl['queries'])}", f"seed={a.seed}",
                          f"seconds={a.seconds}", f"trace={a.trace}",
                          f"kernels={int(wl['kernels'])}", f"data={data}", f"run={run}",
                          f"result={result_file}", f"spans={spans}"])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{run}/scratch",
               SPARK_LOCAL_DIRS=f"{run}/local", TMPDIR=f"{run}/tmp")
    log = os.path.join(run, "jvm.log")
    t_jvm = time.time()
    try:
        with open(log, "w") as out:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=run, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log, errors="replace").read()[-4000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 4)
        with open(result_file) as fh:
            res = json.load(fh)
        t_check = time.time()
        mismatches, rows = check_outputs(data, os.path.join(run, "out"), res["oracle_sql"])
        missing = sorted(set(wl["queries"]) - set(res["oracle_sql"]))
        mismatches += [f"{q}: no oracle SQL" for q in missing]
        t_done = time.time()
    finally:
        shutil.rmtree(run, ignore_errors=True)

    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    for m in mismatches:
        print(f"perfbench: output check FAILED {m}", file=sys.stderr)
    failed = len(res["failures"]) + len(mismatches)
    info, labels = res["info"], res["labels"]
    tail = (f"query_tail_s={info['query_tail_s']:.4f} (p{info['query_tail_pct']:.0f}, "
            f"n={info['query_samples']})" if "query_tail_s" in info
            else f"query_tail_s=n/a (n={info['query_samples']} < 11)")
    print(f"perfbench: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={labels['cores']} heap_mb={labels['heap_mb']} spark={labels['spark']} "
          f"setup_samples_s={[round(x, 3) for x in info['setup_samples_s']]} "
          f"peak_rss_mb={info['peak_rss_mb']:.0f} retained_heap_mb={info['retained_heap_mb']:.1f} "
          f"stored_mb={info['stored_mb']:.3f} "
          f"query_p50_s={info['query_p50_s']:.4f} {tail} "
          f"query_median_s={ {q: round(v, 3) for q, v in sorted(info['query_median_s'].items())} } "
          f"out_rows={rows} "
          f"warmup_pass_s={[round(x, 2) for x in info['warmup_pass_s']]} "
          f"warmup_leveled={info['warmup_leveled']} "
          f"window_pass_s={[round(x, 2) for x in info['window_pass_s']]} "
          f"traced_pass_s={[round(x, 2) for x in info['traced_pass_s']]} "
          f"cached_rdds_after_pass={info['cached_rdds_after_pass']} "
          f"checked={len(res['oracle_sql']) - len(mismatches)}/{len(wl['queries'])} "
          f"jvm_s={t_check - t_jvm:.1f} check_s={t_done - t_check:.1f}"
          + (f" spans={os.path.relpath(spans, ROOT)}" if a.trace else ""))
    if a.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
