#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <alert_steady|batch_scan|store_lifecycle>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark with sbt (the benchmark's own build, in this directory);
later runs reuse the build while the sources are unchanged. Batch
workloads get tables generated from the seed and the DuckDB oracle's
expected result of every listed query; the JVM then sets up, measures,
checks every output and prints one JSON result line, which this script
prints as the last line of its standard output. Everything the run
writes stays under `.bench_build/` in the checkout; `results/` there
keeps each run's full record and, for traced runs, its span file.
See RATIONALE.md for the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("alert_steady", "batch_scan", "store_lifecycle")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint() -> str:
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    return env


def build() -> str:
    """Builds once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "writeClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 4)
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    cp = open(cp_file).read().strip()
    jvm(cp, ["--dump-oracle", os.path.join(BUILD, "oracle_sql.json")],
        timeout=120)
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"perfbench: built in {time.time() - t:.0f} s", file=sys.stderr)
    return cp


def jvm_cmd(cp: str, args: list, tmp: str) -> list:
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, "perfbench.Main"] + args)


def jvm(cp: str, args: list, timeout: float, tmp: str = None) -> str:
    """Runs the benchmark JVM in its own process group; returns stdout.
    The group is killed and waited for on timeout or interruption."""
    tmp = tmp or os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.Popen(jvm_cmd(cp, args, tmp), stdout=subprocess.PIPE,
                         stderr=sys.stderr, cwd=ROOT, start_new_session=True,
                         text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        fail(f"benchmark JVM exited with {p.returncode}", 5)
    return out


CTE = re.compile(r"\b([A-Za-z_]\w*) AS \(")


def materialize(sql: str) -> str:
    """In a recursive query, computes each top-level CTE once: DuckDB
    otherwise re-evaluates inlined CTEs on every recursion step. Results
    are unchanged; only the oracle's run time drops."""
    if not re.match(r"\s*WITH\s+RECURSIVE\b", sql, re.I):
        return sql
    out, depth, i = [], 0, 0
    for m in CTE.finditer(sql):
        seg = sql[i:m.start()]
        depth += seg.count("(") - seg.count(")")
        out.append(seg)
        out.append(m.group(0) if depth else f"{m.group(1)} AS MATERIALIZED (")
        depth += 1
        i = m.end()
    out.append(sql[i:])
    return "".join(out)


def oracle(workload: str, data: str, expected: str) -> None:
    """Writes DuckDB's result of each listed query's oracle SQL."""
    import duckdb
    queries = json.load(open(os.path.join(BUILD, "oracle_sql.json")))[workload]
    os.makedirs(expected, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
    for name, sql in queries.items():
        try:
            con.execute(f"COPY ({materialize(sql)}) TO "
                        f"'{os.path.join(expected, name)}.parquet' (FORMAT PARQUET)")
        except duckdb.Error as e:
            print(f"perfbench: oracle for {name} failed: {e}", file=sys.stderr)


def main() -> None:
    # Turn a termination request into an exception, so the JVM's process
    # group is killed and waited for on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not here; "
             "run from the root of a full checkout")
    cp = build()
    started = time.time()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, f"run-{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(len(os.sched_getaffinity(0))), "--work", work,
                "--result", os.path.join(results, f"{tag}.json"),
                "--spans", os.path.join(results, f"{tag}.spans.jsonl")]
        if a.workload != "alert_steady":
            sys.dont_write_bytecode = True  # leave no __pycache__ behind
            sys.path.insert(0, HERE)
            import gen
            data, expected = os.path.join(work, "data"), os.path.join(work, "expected")
            gen.main(data, a.seed)
            oracle(a.workload, data, expected)
            args += ["--data", data, "--expected", expected]
        out = jvm(cp, args, RUN_LIMIT_S - (time.time() - started),
                  tmp=os.path.join(work, "tmp"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("benchmark JVM printed no result", 6)
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
