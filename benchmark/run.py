#!/usr/bin/env python3
"""Benchmark runner for the graft OCSF security-data platform.

Run from the root of a checkout:

    python3 benchmark/run.py --workload ocsf_ingest --seed 1 --seconds 20 --trace 0

It builds the library and the Scala harness in ``benchmark/`` with sbt
(once per source state), generates the workload's inputs from the seed,
runs the harness in one JVM at ``local[nproc]``, checks every output and
prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones. The line before it
records the run's environment (AmbientProbe reading, nproc, JDK, Spark).
The exit code is non-zero when the build, the run or any output check
fails. See benchmark/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
TOOLS = ROOT / "tools"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "bench-source.sha256"
WORK = BENCH / ".work"
RUNS_LOG = BENCH / ".runs" / "runs.jsonl"

WORKLOADS = ("ocsf_ingest", "analyst_mix")
# Metric names and units come from BENCHMARK.json at the checkout root.
# Scale of the generated star schema for analyst_mix (1.0 = 6M lineitems).
ANALYST_SCALE = 0.01
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (LIB_SRC, BENCH / "src" / "main" / "scala"):
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log):
    """Compile library + harness with sbt unless the sources are unchanged."""
    digest = source_hash()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode}); see {log}", 3)
    STAMP.write_text(digest)


def materialize_ctes(sql):
    """Mark every common table expression without a column list as
    MATERIALIZED. The registry's recursive oracles (``WITH RECURSIVE``)
    reference some CTEs several times; DuckDB inlines them otherwise and
    re-runs the whole text pipeline per reference, which takes minutes
    and gigabytes on the curation corpus. The hint does not change what
    the query returns."""
    if not sql.lstrip().upper().startswith("WITH RECURSIVE"):
        return sql
    return re.sub(r"(WITH RECURSIVE |,\n)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def oracle_check(data_dir, work, oracle):
    """Compare each dumped Spark result with its registry oracle SQL in
    DuckDB, the way tools/check.py does: columns sorted by name, rows
    sorted, values through check.py's ``canon``; an oracle column of a
    decimal type is a failure, as there."""
    import duckdb
    from check import canon

    con = duckdb.connect()
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    errors = []
    for name, sql in sorted(oracle.items()):
        dump = work / "results" / name
        if sql is None or not dump.is_dir():
            errors.append(f"{name}: no {'oracle SQL' if sql is None else 'Spark result'}")
            continue
        rel = con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')")
        got_cols = [d[0] for d in rel.description]
        got = rel.fetchall()
        try:
            tbl = con.execute(materialize_ctes(sql)).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle error {e}")
            continue
        dec = [f.name for f in tbl.schema if str(f.type).startswith("decimal")]
        if dec:
            errors.append(f"{name}: oracle returns decimal-typed column(s) {dec}")
            continue
        exp_cols = tbl.column_names
        gc, g = canon(got_cols, got)
        ec, e = canon(exp_cols, [tuple(d[c] for c in exp_cols) for d in tbl.to_pylist()])
        if gc != ec:
            errors.append(f"{name}: columns differ spark={gc} duckdb={ec}")
        elif g != e:
            bad = sum(a != b for a, b in zip(g, e))
            errors.append(f"{name}: {len(g)} Spark rows vs {len(e)} oracle rows, {bad} differ")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    if not (LIB_SRC / "graft").is_dir() or not (TOOLS / "check.py").is_file():
        fail(f"library sources or {TOOLS / 'check.py'} not found", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark installation", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH", 2)

    shutil.rmtree(WORK, ignore_errors=True)
    work = WORK / f"{args.workload}-{args.seed}"
    data = work / "data"
    data.mkdir(parents=True)
    build(work / "build.log")

    sys.path[:0] = [str(BENCH), str(TOOLS)]
    import datagen

    t0 = time.time()
    if args.workload == "analyst_mix":
        datagen.star_schema(str(data), args.seed, ANALYST_SCALE)
    elif args.trace:  # the traced ocsf_ingest run also measures corpus curation
        datagen.corpus(str(data), args.seed)
    t_gen = time.time() - t0

    cpus = os.cpu_count() or 1
    out = work / "result.json"
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
           "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
           "ocsfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus), "--work", str(work), "--data", str(data), "--out", str(out)]
    t_launch = time.time()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {RUN_TIMEOUT_S} s; see {work / 'jvm.log'}", 4)
    if rc != 0 or not out.exists():
        fail(f"harness exited {rc}; see {work / 'jvm.log'}", 4)
    res = json.loads(out.read_text())

    errors = list(res["errors"])
    if res["oracle"]:
        errors += oracle_check(data, work, res["oracle"])
    setup_s = t_gen + (res["ready_ms"] / 1000.0 - t_launch) + res["setup_s"]

    if args.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in layer_units.items()}
    else:
        values = dict(res["e2e"], setup_s=setup_s)
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}
    correct = not errors and all(m["value"] is not None for m in metrics.values())
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "operations": len(res["op_s"]), "op_s": res["op_s"], "errors": errors[:10],
              "env": res["env"],
              "setup_parts_s": {"input_generation": t_gen,
                                "jvm_spark_start": res["ready_ms"] / 1000.0 - t_launch,
                                "workload_setup": res["setup_s"]},
              "metrics": {k: m["value"] for k, m in metrics.items()}}
    RUNS_LOG.parent.mkdir(exist_ok=True)
    with open(RUNS_LOG, "a") as f:
        f.write(json.dumps(record) + "\n")
    for e in errors[:10]:
        print(f"benchmark: output check failed: {e}", file=sys.stderr)
    print(json.dumps({"env": res["env"], "operations": record["operations"],
                      "setup_parts_s": record["setup_parts_s"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
