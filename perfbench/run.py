#!/usr/bin/env python3
"""Pipeline benchmark for graft: ETL->serve, and corpus curate + fold.

Run from the repository root:

    python3 perfbench/run.py --workload etl_serve --seed 1 --seconds 20 --trace 0

Builds the library and the harness from source with sbt on first use
(cached under .bench_build/, keyed by a hash of the sources), runs one
workload in a fresh JVM at local[4], checks every output, and prints one
JSON object as the last line of stdout. --trace 0 reports the end-to-end
metrics of BENCHMARK.json; --trace 1 reports the per-layer metrics from
a traced run and writes the spans next to the build. Everything it
writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_serve", "corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_files():
    """Every file the harness build reads: its own sources and build
    files, and the library's main sources."""
    roots = [os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(bdir):
    """Build with sbt unless a build of these exact sources exists;
    returns the runtime classpath."""
    stamp = source_hash()
    cp_file = os.path.join(bdir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("sources") == stamp:
            return cached["classpath"]
    log("building the library and the harness with sbt")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"sources": stamp, "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_java(cp, args, work):
    out = os.path.join(work, "result.json")
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.stream.error.file={work}/derby.log",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--race", str(args.race), "--work", work, "--out", out])
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: workload timed out")
    finally:
        # also on a timeout or a signal: never leave the JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: workload exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def oracle_matches(con, sql, parquet_dir, cols, what):
    """DuckDB running the library's oracle SQL over the generated
    documents must return exactly the rows the run wrote."""
    # DuckDB inlines a CTE at every reference, so the closure's pair
    # join would rerun in each recursion step; materializing the shared
    # CTEs changes the evaluation order only, not the result.
    sql = re.sub(r"\n(p|e|c|s2) AS \(", r"\n\1 AS MATERIALIZED (", sql)
    want = set(con.execute(sql).fetchall())
    path = (parquet_dir + "/*.parquet").replace("'", "''")
    got = set(con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{path}')").fetchall())
    if want != got:
        log(f"{what} vs DuckDB oracle: {len(got - want)} extra, {len(want - got)} missing rows")
    return want == got and len(got) > 0


def corpus_checks(res):
    import duckdb
    a = res["artifacts"]
    con = duckdb.connect()
    docs = (a["documents"] + "/*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return [
        {"name": "curate_equals_duckdb_oracle", "detail": "",
         "ok": oracle_matches(con, a["curate_oracle_sql"], a["curate_out"],
                              ["doc_id", "source", "n_chars", "split"], "curate")},
        {"name": "fold_equals_one_shot_dedup_groups", "detail": "",
         "ok": oracle_matches(con, a["dedup_groups_oracle_sql"], a["fold_labels"],
                              ["doc_id", "component", "n_members", "is_canonical"],
                              "fold labels")},
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--race", type=int, choices=(0, 1), default=0,
                    help="etl_serve only: refresh the served view in place "
                         "(diagnostic; not a benchmark workload)")
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the finally blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the library sources (src/main/scala) are missing")

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = classpath(bdir)
    work = os.path.join(bdir, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_java(cp, args, work)
        checks = list(res["checks"])
        if args.workload == "corpus":
            t0 = time.time()
            checks += corpus_checks(res)
            log(f"DuckDB oracle checks took {time.time() - t0:.1f} s")
        if args.trace and "spans" in res["artifacts"]:
            keep = os.path.join(bdir, f"spans-{args.workload}-{args.seed}.json")
            shutil.copyfile(res["artifacts"]["spans"], keep)
            log(f"spans written to {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        ok = got is not None and got["value"] is not None and got["unit"] == m["unit"]
        checks.append({"name": f"metric {m['name']}", "ok": ok, "detail": ""})
        if ok:
            metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    for c in checks:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    for k, v in metrics.items():
        log(f"{k:40s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": all(c["ok"] for c in checks),
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
