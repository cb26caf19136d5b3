#!/usr/bin/env python3
"""The pipeline benchmark: one command per workload run.

    python3 pipebench/run.py --workload <live_feed|backlog_drain|core_catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the program and the harness
from source with sbt (pipebench/build.sbt) and caches the build under
.bench_build/; later runs start `java` directly. Each run prints an
`accounting` line (operations, checks, environment, the workload's own
figures) and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

core_catalog's inputs are generated here from the seed (gen_tables.py)
and its results are checked here against DuckDB running each query's
own oracle SQL; the streaming workloads check themselves in the JVM
against what their generator sent.
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
BUILD = os.path.join(ROOT, ".bench_build")
# backlog_drain is runnable for the README's capacity figures; the
# benchmark itself (BENCHMARK.json) runs live_feed and core_catalog
WORKLOADS = ("live_feed", "backlog_drain", "core_catalog")
# core_catalog's table scale (TESTDATA.md's sf): the per-query floor, not
# the data, dominates a query's time (0.02 was only ~20 % slower per query)
SCALE = 0.005
# a fixed heap: no resizing between runs, so GC behaves the same in each
HEAP = ["-Xms2g", "-Xmx2g"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads, in a stable order."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "src", "test", "scala", "graft", "streaming", "kafka")):
        for d, _, fs in os.walk(top):
            paths += [os.path.join(d, f) for f in fs]
    return sorted(p for p in paths if os.path.isfile(p))


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached build matches the sources;
    return (classpath, java options)."""
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    opts_file = os.path.join(HERE, "target", "java-options.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    have = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if have != want or not os.path.exists(cp_file):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx3g"]
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("building the program and the harness (sbt exportClasspath)")
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=840).returncode
        if rc != 0:
            log(f"build failed (exit {rc}); see .bench_build/build.log")
            sys.exit(3)
        with open(stamp_file, "w") as f:
            f.write(want)
    cp = open(cp_file).read().strip()
    opts = [o for o in open(opts_file).read().split("\n") if o.strip()]
    return cp, opts


def oracle_check(tables_dir, results_dir):
    """Each core query's Spark result against DuckDB running the query's
    own oracle SQL on the same parquet: {name: verdict}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in os.listdir(tables_dir):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{tables_dir}/{t}')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        d = os.path.join(results_dir, name)
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").arrow()
            want = con.sql(sql).arrow()
        except Exception as e:  # a missing result or a failing oracle
            verdicts[name] = f"ERROR {str(e)[:160]}"
            continue
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            verdicts[name] = f"COLUMNS spark={cols} oracle={sorted(want.column_names)}"
            continue
        if got.num_rows != want.num_rows:
            verdicts[name] = f"ROWS spark={got.num_rows} oracle={want.num_rows}"
            continue
        sel = ", ".join(f'"{c}"' for c in cols)
        con.register("_got", got)
        con.register("_want", want)
        diff = con.sql(f"SELECT count(*) FROM ((SELECT {sel} FROM _got EXCEPT ALL "
                       f"SELECT {sel} FROM _want) UNION ALL (SELECT {sel} FROM _want "
                       f"EXCEPT ALL SELECT {sel} FROM _got))").fetchone()[0]
        verdicts[name] = "OK" if diff == 0 else f"VALUES {diff} rows differ"
        con.unregister("_got")
        con.unregister("_want")
    con.close()
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the README's capacity figures, not for the benchmark's own runs
    ap.add_argument("--rate", type=int, help="live_feed events/s (default: the reference's 346)")
    ap.add_argument("--cores", type=int, help="Spark's local[n] (default: every core)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("the program's sources (src/main/scala) are not beside this directory")
        sys.exit(2)
    cp, opts = build()

    t0 = time.time()  # set-up starts here: the build is not part of it
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "core_catalog":
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.generate(os.path.join(work, "tables"), a.seed, SCALE)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"] + opts +
               ["-cp", cp,
                "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--t0-ms", str(int(t0 * 1000))] +
               [x for k in ("rate", "cores") if getattr(a, k)
                for x in (f"--{k}", str(getattr(a, k)))])
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log("the run did not finish in time")
            sys.exit(4)
        finally:  # never leave the JVM behind, whatever ends this process
            if p.poll() is None:
                p.kill()
                p.wait()
        if p.returncode != 0:
            log(f"the run failed (exit {p.returncode})")
            sys.exit(5)
        lines = {ln.split(" ", 1)[0]: ln.split(" ", 1)[1]
                 for ln in out.splitlines() if ln.startswith(("accounting ", "result "))}
        acct = json.loads(lines["accounting"])
        res = json.loads(lines["result"])
        checks = dict(acct.get("checks", {}))
        correct = all(checks.values())
        if a.workload == "core_catalog":
            c0 = time.time()
            verdicts = oracle_check(os.path.join(work, "tables"), os.path.join(work, "results"))
            acct["oracle_check_s"] = time.time() - c0
            bad = {k: v for k, v in verdicts.items() if v != "OK"}
            acct["oracle_checked"] = len(verdicts)
            acct["oracle_mismatches"] = bad
            res["attempted"] += len(verdicts)
            res["failed"] += len(bad)
            correct = correct and not bad and len(verdicts) > 0
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(spans, keep)
            acct["spans"] = os.path.relpath(keep, ROOT)
        print("accounting " + json.dumps(acct, sort_keys=True))
        correct = correct and res["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
