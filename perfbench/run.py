#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {batch,stream} --seed N \
      --seconds S --trace {0,1}

Builds the engine and the harness from source with sbt when the sources
changed since the last build, generates the seeded input tables, runs the
workload in one JVM at local[4], checks the outputs, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. Untraced runs print
the end-to-end metrics, traced runs the per-layer metrics. Everything the
run writes stays under perfbench/work/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
CORES = 4
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx1g",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, rebuilt with sbt when any source changed."""
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")
    fp = fingerprint(source_files())
    build = os.path.join(WORK, "build")
    cp_file = os.path.join(build, f"classpath-{fp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build, exist_ok=True)
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    for old in os.listdir(build):
        if old.startswith("classpath-"):
            os.remove(os.path.join(build, old))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def data_dir(seed):
    """Generated tables for this seed, cached per generator version."""
    sys.path.insert(0, BENCH)
    import gen
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        ver = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{ver}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_OK")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed)
        open(os.path.join(d, "_OK"), "w").close()
    return d


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def canon(rows, cols):
    """Columns sorted by name, rows by value — as tools/check.py does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def check_batch(data, verify):
    """Keys whose Spark output differs from the DuckDB oracle."""
    import duckdb
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}.parquet')")
    wrong = []
    for key, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(verify, key)}/*.parquet')")
            g = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            e = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as ex:  # an unreadable output is a wrong result
            wrong.append(f"{key}: {str(ex)[:200]}")
            continue
        if g != e:
            wrong.append(f"{key}: {len(g[1])} rows vs oracle {len(e[1])}")
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = classpath()
    data = data_dir(a.seed)
    run = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_GRAFT_CONF"] = (f"spark.sql.warehouse.dir={os.path.join(run, 'warehouse')};"
                               f"spark.local.dir={os.path.join(run, 'local')}")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run, "local")
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", run]
    budget = DEADLINE_S - (time.time() - t_start)
    if budget < 30:  # the first run of a checkout builds; its deadline is longer
        budget = DEADLINE_S
    with open(os.path.join(run, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, budget, cwd=run, env=env, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res_file = os.path.join(run, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        fail(f"workload run failed (exit {rc}); see {os.path.join(run, 'jvm.log')}")
    with open(res_file) as f:
        res = json.load(f)

    wrong = list(res["wrong"])
    if a.workload != "stream":
        wrong += check_batch(data, os.path.join(run, "verify"))
    res["wrong"] = wrong
    with open(res_file, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    for w in wrong:
        print(f"perfbench: wrong result: {w}", file=sys.stderr)
    for d in ["warehouse", "spark-warehouse", "local", "tmp", "checkpoints", "verify"]:
        shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    print(json.dumps({"correct": not wrong and res["failed"] == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
