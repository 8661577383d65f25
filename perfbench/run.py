#!/usr/bin/env python3
"""Repository benchmark: build the engine and the benchmark, run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: serve, dedup (see perfbench/README.md). The first run in a
checkout compiles the engine and the benchmark with sbt (offline) into the
checkout and records the runtime classpath in .bench_build/; the DuckDB oracle
checksums of the dedup jobs are taken from perfbench/oracle_checksums.json
while the oracle SQL and fixtures hash the same, and computed otherwise.
Later runs reuse both while the sources are unchanged. The workload itself
runs in one JVM launched with `java -cp`; its `[perfbench]` lines are passed
through and the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics. Exits non-zero without a result when the
engine sources are missing, the build fails or the workload crashes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
COMMITTED_ORACLE = BENCH / "oracle_checksums.json"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
DEDUP_JOBS = ["c3_minhash_dedup", "d3_lsh_pairs", "c2_embedding_dedup",
              "d8_simhash64_pairs"]
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.is_file() else b"-")
    return h.hexdigest()


def sbt_env():
    opts = [
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false", "-Xmx2g",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}",
        f"-Djava.io.tmpdir={BUILD / 'tmp'}",
    ]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join(filter(None, [os.environ.get("SBT_OPTS"), *opts]))
    return env


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group on timeout. Returns (exit code, output text)."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -9
    return code, Path(log_path).read_text(errors="replace")


def java_cmd(classpath, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            "-cp", classpath, "graft.perfbench.PerfBench", *args]


def oracle_checksums(sql_by_job):
    """DuckDB checksum of each dedup job's oracle SQL over the committed
    fixtures, by the formula of DedupBench.checksum."""
    import duckdb
    mod, mults = 1000000007, [1000003, 998244353, 754974721, 167772161]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{BENCH / 'data' / (t + '.parquet')}')")
    out = {}
    for job in DEDUP_JOBS:
        con.execute(f"CREATE OR REPLACE TEMP TABLE r AS {sql_by_job[job]}")
        cols = sorted(row[0] for row in con.execute("DESCRIBE r").fetchall())
        h = " + ".join(f'(CAST("{c}" AS BIGINT) % {mod}) * {k}'
                       for c, k in zip(cols, mults))
        n, s1, s2 = con.execute(
            f"SELECT count(*), coalesce(sum(h), 0), "
            f"coalesce(sum((h * h) % {mod}), 0) "
            f"FROM (SELECT ({h}) % {mod} AS h FROM r)").fetchone()
        out[job] = [int(n), int(s1), int(s2)]
    return out


def ensure_built():
    """Classpath of the current sources, building when they changed."""
    BUILD.mkdir(exist_ok=True)
    (BUILD / "tmp").mkdir(exist_ok=True)
    (BUILD / "logs").mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file, oracle_file = BUILD / "classpath.json", BUILD / "oracle.json"
    built = json.loads(cp_file.read_text()) if cp_file.is_file() else {}
    if built.get("stamp") != stamp:
        t0 = time.time()
        code, text = run_logged(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            BENCH, BUILD / "logs" / "build.log", BUILD_TIMEOUT_S, sbt_env())
        lines = [l for l in text.splitlines() if ".jar" in l and not l.startswith("[")]
        if code != 0 or not lines:
            print(text[-4000:], file=sys.stderr)
            sys.exit(f"build failed (exit {code}); see {BUILD / 'logs' / 'build.log'}")
        built = {"stamp": stamp, "classpath": lines[-1].strip()}
        log(f"build: {time.time() - t0:.1f} s")
        sql_file = BUILD / "oracle_sql.json"
        code, text = run_logged(
            java_cmd(built["classpath"], "--dump-oracle-sql", str(sql_file)),
            ROOT, BUILD / "logs" / "oracle.log", RUN_TIMEOUT_S)
        if code != 0:
            print(text[-4000:], file=sys.stderr)
            sys.exit("could not read the dedup oracle SQL")
        key = hashlib.sha256(sql_file.read_bytes() + b"".join(
            (BENCH / "data" / f).read_bytes()
            for f in ("documents.parquet", "embeddings.parquet"))).hexdigest()
        # the committed copy saves the DuckDB run (about a minute) while
        # neither the oracle SQL nor the fixtures change
        known = [json.loads(f.read_text()) for f in (COMMITTED_ORACLE, oracle_file)
                 if f.is_file()]
        match = next((o for o in known if o.get("key") == key), None)
        if match is None:
            t0 = time.time()
            match = {"key": key, **oracle_checksums(json.loads(sql_file.read_text()))}
            log(f"oracle: {time.time() - t0:.1f} s")
        oracle_file.write_text(json.dumps(match))
        cp_file.write_text(json.dumps(built))
    return built["classpath"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"engine sources not found under {ROOT}: run from a full checkout")
    classpath = ensure_built()

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run_log = BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = java_cmd(classpath, "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--work", str(work), "--data", str(BENCH / "data"),
                   "--oracle", str(BUILD / "oracle.json"))
    result = None
    with open(run_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit("interrupted")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        timed_out = []

        def kill():
            timed_out.append(True)
            os.killpg(proc.pid, signal.SIGKILL)
        watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
        watchdog.start()
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            elif line.startswith("[perfbench]"):
                print(line, end="", flush=True)
        code = proc.wait()
        watchdog.cancel()
        if timed_out:
            code = -9
    spans = work / "spans.jsonl"
    if spans.is_file():
        (BUILD / "traces").mkdir(exist_ok=True)
        shutil.copy(spans, BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        print(Path(run_log).read_text(errors="replace")[-4000:], file=sys.stderr)
        sys.exit(f"workload {a.workload} failed (exit {code}); see {run_log}")
    print(result, flush=True)


if __name__ == "__main__":
    main()
