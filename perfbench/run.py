#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine plus the benchmark (once per source state, with sbt in
perfbench/), runs one workload in one JVM, checks its outputs, and prints
one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer
metrics. The full artifact (environment, canaries, every op, the spans and
their self time) is written under .bench_build/results/. Everything the run
writes stays under .bench_build/ in the checkout. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_batch", "table_churn")
JAVA_HEAP = "3g"
RUN_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source digest; returns the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "cli", "Main.scala")):
        die("engine sources (src/main/scala) not found next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # resolve from the local caches only, and leave the launcher's lock
    # file in the user's home untouched
    opts = env.get("SBT_OPTS", "")
    for o in ("-Dsbt.offline=true", "-Dsbt.boot.lock=false"):
        if o not in opts:
            opts += " " + o
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines:
        die(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1]  # `export` prints the classpath as the last line
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp, digest


def run_jvm(cp, workload, seed, seconds, trace, work, out):
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java", f"-Xmx{JAVA_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out]
    # Spark's shuffle and spill dirs stay inside the checkout; setting
    # SPARK_LOCAL_DIRS also keeps graft.sources.LocalDirs from choosing
    # a RAM-backed dir (the artifact records which applied)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log = os.path.join(BUILD, f"jvm_{workload}.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                               stdout=fh, stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM timed out after {RUN_TIMEOUT_S}s; see {log}")
    if r.returncode != 0 or not os.path.isfile(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die(f"benchmark JVM failed (exit {r.returncode}); see {log}\n{tail}")


def canon_select(con, rel_sql, drop=()):
    """Select list that puts a relation in canonical form: columns by
    name, doubles rounded to 6 places (the tolerance the engine's own
    oracle checker uses), nested values compared as text."""
    cols = con.execute(f"DESCRIBE {rel_sql}").fetchall()
    out = []
    for name, typ, *_ in sorted(cols):
        if name in drop:
            continue
        q = '"' + name.replace('"', '""') + '"'
        if typ in ("DOUBLE", "FLOAT", "REAL"):
            out.append(f"round({q}, 6) AS {q}")
        elif typ.startswith(("STRUCT", "MAP")) or typ.endswith("]"):
            out.append(f"CAST({q} AS VARCHAR) AS {q}")
        else:
            out.append(q)
    return [c[0] for c in sorted(cols) if c[0] not in drop], ", ".join(out)


def oracle_check(manifest):
    """Check each ETL job against DuckDB running the job's SQL over the
    generated inputs: a write job's output must equal the SQL result as a
    multiset of canonical rows; a read job's printed values must equal the
    SQL result's first column. Returns {op id: failure reason}."""
    if not manifest:
        return {}
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    views = None
    failures = {}
    for m in manifest:
        if views != m["in_dir"]:
            for t in m["tables"]:
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                            f"parquet_scan('{m['in_dir']}/{t}.parquet/*.parquet')")
            views = m["in_dir"]
        if not m["ok"]:
            continue  # already counted as failed by the run itself
        try:
            if "printed" in m:
                want = [str(r[0]) for r in con.execute(m["sql"]).fetchall()]
                if want != m["printed"]:
                    failures[m["op"]] = f"{m['job']}: printed {m['printed'][:5]} != {want[:5]}"
                continue
            o_rel = f"({m['sql']})"
            g_rel = f"(SELECT * FROM parquet_scan('{m['path']}/*.parquet'))"
            ocols, osel = canon_select(con, o_rel)
            gcols, gsel = canon_select(con, g_rel, drop=("_etl_ts",))
            if ocols != gcols:
                failures[m["op"]] = f"{m['job']}: columns {gcols} != oracle {ocols}"
                continue
            diff, n_o, n_g = con.execute(
                f"WITH o AS (SELECT {osel} FROM {o_rel}), g AS (SELECT {gsel} FROM {g_rel}) "
                "SELECT (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM g)) + "
                "(SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM o)), "
                "(SELECT count(*) FROM o), (SELECT count(*) FROM g)").fetchone()
            if diff:
                failures[m["op"]] = (f"{m['job']}: {n_g} rows vs oracle {n_o}, "
                                     f"{diff} rows differ")
        except Exception as e:  # a missing or unreadable output fails the job
            failures[m["op"]] = f"{m['job']}: {e}"
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp, digest = build()
    build_s = time.time() - t0

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, out)
    with open(out) as fh:
        res = json.load(fh)

    failures = oracle_check(res.get("oracle", []))
    attempted = res["attempted"]
    failed = res["failed"] + len(failures)
    metrics_src = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics_src]
    if missing:
        die(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": metrics_src[m["name"]], "unit": m["unit"]} for m in wanted}

    sha = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    env = dict(res["env"], git_sha=sha or "not a git checkout", source_sha1=digest,
               seed=a.seed, seconds=a.seconds, build_s=build_s)
    artifact = {k: v for k, v in res.items() if k not in ("spans", "oracle")}
    artifact.update(env=env, oracle_failures=failures, metrics=metrics,
                    correct=failed == 0, attempted=attempted, failed=failed)
    rdir = os.path.join(BUILD, "results")
    os.makedirs(rdir, exist_ok=True)
    stem = os.path.join(rdir, f"{a.workload}_seed{a.seed}_trace{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(artifact, fh, indent=1)
    if a.trace:
        with open(stem + "_layers.json", "w") as fh:
            json.dump({"layers": res["layers"], "ops": res["ops"], "spans": res["spans"]}, fh)
    shutil.rmtree(work, ignore_errors=True)

    for e in res.get("op_errors", []):
        print(f"op failed: {e}", file=sys.stderr)
    for c in res.get("checks", []):
        if not c["ok"]:
            print(f"check failed: {c['name']}", file=sys.stderr)
    for why in failures.values():
        print(f"oracle mismatch: {why}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
