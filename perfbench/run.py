#!/usr/bin/env python3
"""Benchmark of the graft extraction engine, one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload extract|commit \
        --seed N --seconds S --trace 0|1 [--inject fail|corrupt]

Builds the program's sources together with the harness in perfbench/src (sbt,
offline) into .bench_build, unless a build of the same sources is already there;
runs the workload in one JVM with Spark at local[nproc]; checks the outputs (for
the curation queries of a traced `extract` run, against each query's oracle SQL in
DuckDB); and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer metrics (0 for a
layer the workload does not exercise). Exits 0 only if every operation succeeded
and every check passed. --inject is the harness self-test: `fail` adds one call that
throws, `corrupt` damages the output before it is checked.
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
BUILD = os.path.join(ROOT, ".bench_build")  # perfbench/build.sbt puts sbt's output here too
DATA = os.path.join(HERE, "data")
RUN_LIMIT_S = 175  # a run must end within 180 s, not counting a build
BUILD_LIMIT_S = 700
JVM_HEAP = "3g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_stamp(program_src):
    h = hashlib.sha256()
    for top in (program_src, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness unless built already; return the runtime classpath
    and whether it built."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src):
        sys.exit(f"perfbench: no program sources at {program_src}; "
                 "run from the root of a checkout of the repository")
    stamp = sources_stamp(program_src)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if os.pathsep in l and "sbt-target" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], True


def run_jvm(classpath, args, work, result, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+UseParallelGC",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--work", work, "--result", result]
    if args.inject:
        cmd += ["--inject", args.inject]
    log_path = os.path.join(BUILD, "perfbench", "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"perfbench: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    with open(log_path) as f:
        lines = f.read().splitlines()
    for l in lines:
        if l.startswith("perfbench:"):
            print(l, file=sys.stderr)
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: the workload JVM ended with {code}")


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def frame_hash(cols, rows):
    """sha256 over the rows in order, columns sorted by name (tools/compare.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("\x01".join(canon(r[i]) for i in order).encode())
        h.update(b"\x02")
    return h.hexdigest()


def oracle_check(oracle_dir, data):
    """Each query's Spark result against its oracle SQL in DuckDB: row count, column
    names and value hash. Returns the problems found."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{oracle_dir}/{name}/*.parquet')")
            gcols, grows = [d[0] for d in got.description], got.fetchall()
            exp = con.sql(sql)
            ecols, erows = [d[0] for d in exp.description], exp.fetchall()
        except Exception as e:  # a missing result or a failing oracle both fail the check
            problems.append(f"curation: {name}: {e}")
            continue
        if len(grows) != len(erows):
            problems.append(f"curation: {name}: {len(grows)} rows, oracle {len(erows)}")
        elif sorted(gcols) != sorted(ecols):
            problems.append(f"curation: {name}: columns {sorted(gcols)} != {sorted(ecols)}")
        elif frame_hash(gcols, grows) != frame_hash(ecols, erows):
            problems.append(f"curation: {name}: value hash differs from the oracle")
    return problems


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["extract", "commit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--inject", choices=["fail", "corrupt"])
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath, built = build()
    if built:  # the run's own time limit starts after the build
        t_start = time.time()
    out_dir = os.path.join(BUILD, "perfbench")
    work = os.path.join(out_dir, "work")
    result = os.path.join(out_dir, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(result):
        os.remove(result)
    try:
        run_jvm(classpath, args, work, result, t_start + RUN_LIMIT_S)
        with open(result) as f:
            res = json.load(f)
        problems = list(res["problems"])
        if "oracle_dir" in res:
            problems += oracle_check(res["oracle_dir"], res["oracle_data"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        log(f"failed call: {e}")
    for p in problems:
        log(f"check failed: {p}")
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.pop(m["name"], {"value": 0.0, "unit": m["unit"]} if args.trace else None)
        if v is None and res["failed"] == 0:
            sys.exit(f"perfbench: the run measured no {m['name']}")
        if v is not None:
            if v["unit"] != m["unit"]:
                sys.exit(f"perfbench: {m['name']} measured in {v['unit']}, "
                         f"BENCHMARK.json says {m['unit']}")
            metrics[m["name"]] = v
    if got:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(got)}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
