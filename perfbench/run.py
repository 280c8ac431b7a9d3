#!/usr/bin/env python3
"""Benchmark of rapiddocspark: one command, one JSON result line.

    python3 perfbench/run.py --workload docs_extract --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run starts one JVM at local[nproc]
with a fresh work dir (inputs, outputs, checkpoints, java.io.tmpdir) under
`.perfbench_work/`, which is removed when the run ends.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones
(and the run's spans in `.perfbench_traces/`). The line before it is the
run's stamp (machine, JVM, Spark, sources, seed, input sizes). Any wrong,
missing or errored document or query result makes `correct` false and the
exit code 1. `query_suite` results are compared here with their DuckDB
oracle SQL (the `duckdb` Python package), as `tools/parity.py` does.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("docs_extract", "query_suite", "blobs_stream")
DATA = BENCH / "data" / "sf0.01"
HEAP = "3g"
GC = "UseParallelGC"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# program's own build).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compiles program + harness with sbt unless this exact source tree
    was built before; returns the runtime classpath."""
    target = BENCH / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not cp_file.exists():
        fail(f"build failed with exit code {r.returncode}")
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_file.read_text().strip()


def git_sha():
    try:
        top = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode == 0 and Path(top.stdout.strip()).resolve() == ROOT:
            return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                  capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none (not a git checkout)"


def run_jvm(cp, args, work, trace_out):
    # fixed heap and generation sizes keep GC timing alike from run to run;
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:+{GC}",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--data", str(DATA), "--trace-out", str(trace_out),
           "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def on_signal(signum, _frame):
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def oracle_failures(work):
    """Compares every query result the run wrote, `results/<round>/<name>/`,
    with its oracle SQL from `oracle_sql.json`, run by DuckDB over the same
    tables (`sf/`): sorted columns, sorted rows, exact values (NaN equals
    NaN). Returns the number of wrong results; a result the JVM did not
    write has already failed the run."""
    import duckdb
    con = duckdb.connect()
    for t in sorted(p.stem for p in (work / "sf").glob("*.parquet")):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work / 'sf' / t}.parquet')")
    fails = 0
    for name, sql in sorted(json.loads((work / "oracle_sql.json").read_text()).items()):
        exp = con.sql(sql).df()
        cols = sorted(exp.columns)
        exp = exp[cols].sort_values(cols).reset_index(drop=True)
        for out in sorted((work / "results").glob(f"*/{name}")):
            def bad(why):
                print(f"perfbench: query {name}, round {out.parent.name}: {why}", file=sys.stderr)
                return 1
            got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
            if cols != sorted(got.columns):
                fails += bad(f"columns {sorted(got.columns)}, oracle {cols}")
                continue
            if len(exp) != len(got):
                fails += bad(f"{len(got)} rows, oracle {len(exp)}")
                continue
            got = got[cols].sort_values(cols).reset_index(drop=True)
            diff = next(((c, i, a, b) for c in cols
                         for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist()))
                         if not (a == b or (isinstance(a, float) and isinstance(b, float)
                                            and math.isnan(a) and math.isnan(b)))), None)
            if diff:
                fails += bad("column {} row {}: {!r}, oracle {!r}".format(diff[0], diff[1], diff[3], diff[2]))
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")
    if not DATA.is_dir():
        fail(f"no fixture tables in {DATA}")
    stamp = source_hash()
    cp = build(stamp)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = ROOT / ".perfbench_traces" / f"{args.workload}-seed{args.seed}.jsonl"
    try:
        res = run_jvm(cp, args, work, trace_out if args.trace else "")
        if args.workload == "query_suite":
            t0 = time.time()
            res["failed"] += oracle_failures(work)
            print(f"perfbench: oracle compare in {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stamp_info = dict(res["stamp"], sources_sha256=stamp, git_sha=git_sha(),
                      failed_share=res["failed"] / max(1, res["attempted"]),
                      note="compare only with runs of the same nproc; "
                           "the r6 figures in BENCH_r06.json were taken on 32 cores")
    print(json.dumps({"stamp": stamp_info}, sort_keys=True))
    correct = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
