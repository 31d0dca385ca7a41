#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness in
``perfbench/`` on top of the repository's own build (sbt, offline) and
caches the classpath; later runs reuse it while no source or build file
changed.

Each run generates its inputs from ``--seed`` (``weekly_ingest``), starts
one JVM on ``local[<cpus>]`` with one client thread, sets up, measures as
many weeks or query passes as fit in ``--seconds``, checks the outputs, and
prints one JSON line as the last line of stdout. With ``--trace 0`` it holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run. See
``perfbench/README.md`` for every metric and what it should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("weekly_ingest", "operator_queries")
# weekly_ingest inputs: rows per weekly CSV as in the reference's data
# (~89k rows, ~11 MB a week), a bulk backfill of BACKFILL_WEEKS weeks and
# one warm-up week before the measured weeks
ROWS_PER_WEEK = 89_000
BACKFILL_WEEKS = 4
# seconds one measured week / one query pass takes on the 4-core box the
# benchmark was sized on; a run measures as many as fit in --seconds
WEEK_NOMINAL_S = 4.0
PASS_NOMINAL_S = 12.0
MIN_WEEKS = 4
TESTDATA = BENCH / "testdata" / "sf0.001"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "secondary_p50_ms": "ms",
    "retained_heap_mb": "MB", "stored_bytes_per_input_byte": "ratio",
}

PER_LAYER = {
    "spark.task_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.peak_exec_mem_mb": "MB",
    "spark.jobs_per_op": "count", "spark.planning_ms_per_op": "ms",
    "trace.ops": "count", "trace.overhead_ms_per_op": "ms",
    "pipeline.csv_read_amplification": "ratio", "pipeline.csv_scans_per_week": "count",
    "sinks.upsert_station_s": "s", "sinks.upsert_datetime_s": "s",
    "sinks.upsert_fact_s": "s", "sinks.ledger_s": "s", "sinks.driver_only_s": "s",
    "sinks.write_amplification": "ratio", "sinks.history_slope_latency": "ratio",
    "sinks.history_slope_bytes": "ratio", "sinks.files_written_per_week": "count",
    "starschema.jobs_per_week": "count", "starschema.tasks_per_week": "count",
    "starschema.ledger_read_s": "s",
}
for _q in ("q142", "q146", "q148", "q149", "q151", "q209", "q233"):
    PER_LAYER.update({f"graph.{_q}.s": "s", f"graph.{_q}.jobs": "count",
                      f"graph.{_q}.shuffle_bytes": "bytes", f"graph.{_q}.planning_ms": "ms"})
for _q in ("q39", "q46", "q110", "q158"):
    PER_LAYER.update({f"sketch.{_q}.s": "s", f"sketch.{_q}.task_s": "s"})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _stamp():
    """Hash of every file the build reads: both builds' definitions, the
    repository's main sources and the harness."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the repository and the harness; returns the classpath and the
    repository's JVM options."""
    cp_file = BENCH / "target" / "classpath.txt"
    opts_file = BENCH / "target" / "jvm-options.txt"
    stamp_file = BENCH / "target" / "source.stamp"
    stamp = _stamp()
    cached = lambda: (cp_file.read_text().strip(), opts_file.read_text().split())
    if cp_file.exists() and opts_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cached()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt writeClasspath)")
    t0 = time.time()
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                   timeout=BUILD_LIMIT_S, check=True)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cached()


# ------------------------------------------------------------------ checks

def _duck():
    import duckdb
    return duckdb.connect()


def check_fact(con, wh, manifest):
    """Fact rows equal the distinct generated rental ids, and every
    re-delivered rental carries its later delivery's bike id."""
    fact = f"read_parquet('{wh}/fact_journey/*/*.parquet', hive_partitioning=true)"
    n, distinct = con.execute(f"SELECT count(*), count(DISTINCT rental_id) FROM {fact}").fetchone()
    out = {"fact rows equal distinct generated rental ids":
           n == manifest["distinct_rentals"] == distinct}
    redelivered = {int(k): v for k, v in manifest["redelivered"].items()}
    got = dict(con.execute(f"SELECT rental_id, bike_id FROM {fact} WHERE rental_id IN "
                           f"({','.join(map(str, redelivered)) or 'NULL'})").fetchall())
    out["re-delivered rentals converge to their later delivery"] = got == redelivered
    return out


def check_oracles(results, oracles):
    """Each query result against its oracle SQL, compared the way
    tools/check.py compares: columns sorted by name, rows by all columns."""
    import pandas as pd
    con = _duck()
    for f in TESTDATA.glob("*.parquet"):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")

    def norm(df):
        df = df[sorted(df.columns)]
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        if len(df):
            df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
        return df

    out = {}
    for name, sql in sorted(oracles.items()):
        key = f"{name} matches its oracle"
        try:
            a = norm(con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df())
            b = norm(con.execute(sql).df())
            out[key] = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
        except Exception as e:  # a failed compare is a failed check
            log(f"{key}: {type(e).__name__}: {e}")
            out[key] = False
    return out


# ------------------------------------------------------------------ run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not TESTDATA.is_dir():
        die(f"no repository sources next to {BENCH.name}/: run from a full checkout")
    cp, jvm_opts = build()

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        line = run(args, cp, jvm_opts, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


def run(args, cp, jvm_opts, work, t_start):
    inputs = work / "inputs"
    manifest = None
    if args.workload == "weekly_ingest":
        units = max(MIN_WEEKS, int(args.seconds // WEEK_NOMINAL_S))
    else:
        units = max(1, int(args.seconds // PASS_NOMINAL_S))
    runs = BENCH / ".runs"
    runs.mkdir(exist_ok=True)
    out = work / "result.json"
    cmd = ["java", *jvm_opts, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--units", str(units), "--trace", str(args.trace),
           "--inputs", str(inputs), "--work", str(work), "--testdata", str(TESTDATA),
           "--out", str(out),
           "--spans", str(runs / f"{args.workload}.spans.json")]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        if args.workload == "weekly_ingest":
            # written while Spark starts; the JVM waits for the manifest,
            # which comes last, before it times anything
            manifest = gen.generate(str(inputs), args.seed, rows_per_week=ROWS_PER_WEEK, zones=[
                ("backfill", 1, BACKFILL_WEEKS), ("warmup", 1, 1), ("measured", units, 1)])
            log(f"inputs ready at {time.time() - t_start:.1f}s")
        proc.wait(timeout=RUN_LIMIT_S - (time.time() - t_start))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    log(f"JVM done at {time.time() - t_start:.1f}s")
    if proc.returncode != 0 or not out.exists():
        die(f"benchmark JVM exited with {proc.returncode}", 1)
    res = json.loads(out.read_text())

    con = _duck()
    py_checks = {}
    if args.workload == "weekly_ingest":
        py_checks.update(check_fact(con, res["warehouse"], manifest))
    else:
        py_checks.update(check_oracles(res["results"], res["oracles"]))
    log(f"checks done at {time.time() - t_start:.1f}s")
    checks = {**res["checks"], **py_checks}
    for k, v in checks.items():
        if not v:
            log(f"CHECK FAILED: {k}")
    attempted = res["attempted"] + len(py_checks)
    failed = res["failed"] + sum(not v for v in py_checks.values())
    samples = res["samples"]
    (runs / f"{args.workload}.result.json").write_text(json.dumps(
        dict(res, checks=checks, seed=args.seed, trace=args.trace)))

    if args.trace:
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        for key in ("setup_s", "op_ms", "secondary_ms"):
            if not samples.get(key):
                die(f"no successful samples for {key}; failures: {res['failures'][:5]}", 1)
        log(f"samples: {({k: len(v) for k, v in samples.items()})}")
        values = {
            "setup_s": statistics.median(samples["setup_s"]),
            "op_p50_ms": statistics.median(samples["op_ms"]),
            "secondary_p50_ms": statistics.median(samples["secondary_ms"]),
            "retained_heap_mb": res["retained_heap_mb"],
            "stored_bytes_per_input_byte": res["stored_bytes"] / res["input_bytes"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0 and all(checks.values()), "attempted": attempted,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
