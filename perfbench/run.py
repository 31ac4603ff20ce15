#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload linkage|suite --seed N \
      --seconds S --trace 0|1

Builds the library together with the benchmark (perfbench/build.sbt) into
$CARGO_TARGET_DIR (default .bench_build) when the sources changed, then runs
perfbench.Main in one JVM at local[nproc]. With --trace 0 the last stdout
line carries the end-to-end metrics, with --trace 1 the per-layer metrics of
a separate traced operation. For `suite`, the warm-up pass's outputs are
compared with SparkEntry.oracleSql in DuckDB here, after the JVM exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
LIB_SRC = os.path.join(ROOT, "src", "main")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log("building (sbt compile)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.target={os.path.join(build_dir, 'target')}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


# Oracle texts that take 15-35 s each in DuckDB whatever the data size. An
# untraced run compares the other 46 queries after the JVM exits; a traced
# run (--trace 1) runs these five in parallel beside the JVM's set-up and
# warm-up (the JVM holds its timed loop until they finish) and compares all
# 51.
SLOW_ORACLES = {"q_ann_lsh", "q_ann_lsh_mp", "q_embedding_dedup",
                "q_minhash_dedup", "q_neardup_clusters"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def open_oracle(data_dir):
    import duckdb
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{tbl}.parquet/*.parquet')")
    return con


def run_oracles(con, sql, names, workers):
    """Oracle results by query name (a DataFrame, or the exception)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(q):
        try:
            return q, con.cursor().sql(sql[q]).df()
        except Exception as e:  # reported as a mismatch
            return q, e
    with ThreadPoolExecutor(max(1, workers)) as ex:
        return dict(ex.map(one, names))


def matches(con, check_dir, q, oracle, count):
    """The warm-up pass's output of `q` equals its oracle result (sorted rows
    x sorted columns, stringified, as tools/compare_oracles.py compares) and
    has the row count the timed passes saw."""
    try:
        if isinstance(oracle, Exception):
            raise oracle
        spark = con.cursor().sql(
            f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')").df()
        cols = sorted(spark.columns)
        s = spark.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
        o = oracle.reindex(sorted(oracle.columns), axis=1)
        o = o.sort_values(sorted(o.columns)).reset_index(drop=True)
        ok = (s.shape == o.shape and list(s.columns) == list(o.columns)
              and (s.astype(str).values == o.astype(str).values).all()
              and count == len(s))
    except Exception as e:
        log(f"oracle {q}: {e}")
        ok = False
    if not ok:
        log(f"oracle mismatch: {q}")
    return ok


def early_oracles(work, proc, done, results):
    """Run the slow oracle texts as soon as the JVM has written the inputs;
    create `done` when finished (or when the JVM has exited)."""
    try:
        ready = os.path.join(work, "inputs_ready")
        while not os.path.exists(ready) and proc.poll() is None:
            time.sleep(0.2)
        if os.path.exists(ready):
            with open(ready) as f:
                data_dir = f.read().strip()
            with open(os.path.join(work, "check", "oracle_sql.json")) as f:
                sql = json.load(f)
            slow = sorted(SLOW_ORACLES & set(sql))
            results.update(run_oracles(open_oracle(data_dir), sql, slow, len(slow)))
    finally:
        open(done, "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["linkage", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        log("library sources (src/main/scala/graft) not found; run from the "
            "root of a checkout")
        sys.exit(2)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(os.path.join(build_dir, "perfbench"))

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    results = os.path.join(build_dir, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--work", work, "--out", out]
    early = {}
    hold = os.path.join(work, "oracles_done")
    suite_traced = a.workload == "suite" and a.trace == 1
    if suite_traced:
        cmd += ["--hold", hold]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr)
    helper = None
    if suite_traced:
        helper = threading.Thread(target=early_oracles,
                                  args=(work, proc, hold, early))
        helper.start()
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    if helper:
        helper.join()
    if rc != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed (exit {rc})" if rc is not None
            else f"run exceeded {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    log(f"JVM finished in {time.time() - t0:.1f} s")
    with open(out) as f:
        res = json.load(f)
    info = res.pop("info")
    if a.workload == "suite":
        t1 = time.time()
        counts = {k: int(v) for k, v in
                  (kv.split("=") for kv in info.pop("counts").split(",") if kv)}
        check_dir = os.path.join(work, "check")
        with open(os.path.join(check_dir, "oracle_sql.json")) as f:
            sql = json.load(f)
        names = sorted(q for q in sql if a.trace or q not in SLOW_ORACLES)
        con = open_oracle(info["data_dir"])
        oracles = dict(early)
        oracles.update(run_oracles(con, sql,
                                   [q for q in names if q not in oracles], 4))
        bad = [matches(con, check_dir, q, oracles[q], counts.get(q))
               for q in names].count(False)
        log(f"oracle comparison of {len(names)} queries: {bad} mismatches, "
            f"{time.time() - t1:.1f} s")
        res["attempted"] += len(names)
        res["failed"] += bad
        if a.trace == 0:
            res["metrics"]["quality"]["value"] = (len(names) - bad) / len(names)
    res["correct"] = res["failed"] == 0
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)[
            "per_layer" if a.trace else "end_to_end"]]
    if sorted(declared) != sorted(res["metrics"]):
        log("metrics differ from BENCHMARK.json: "
            f"{sorted(set(declared) ^ set(res['metrics']))}")
        sys.exit(5)
    res["metrics"] = {n: res["metrics"][n] for n in declared}

    info["wall_s"] = f"{time.time() - t0:.1f}"
    print("info " + json.dumps(info, sort_keys=True))
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ["correct", "attempted", "failed", "metrics"]}))


if __name__ == "__main__":
    main()
