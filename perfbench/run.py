#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop, single-client workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog|sql_dml \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (into $CARGO_TARGET_DIR,
default .bench_build), generates the workload's inputs from the seed, runs
them in one JVM against graft.Engine.session(local[nproc]), checks every
output, and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Workloads are described in WORKLOADS.md.
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
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import checks
import layers
import sqlgen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
SCALA = "2.13.17"
JVM_TIMEOUT_S = 165

# The engine's fixture tables (seed 42), copied from the repository's test
# data; the seed orders the entries and draws the SQL traffic.
FIXTURES = HERE / "fixtures"
CATALOG_SF = "sf0.01"
# Measured passes, each in a fresh session on fresh inputs, and the least
# number of catalog warm rounds (every entry once) in each pass.
CATALOG_PASSES = 3
SQL_PASSES = 3
WARM_ROUNDS = 2

# One to three entries per operator family (families.json), favouring
# entries ROADMAP names, within the time one run may take; see WORKLOADS.md.
CATALOG_ENTRIES = [
    "q09_join_inner", "q110_cbo_join", "q31_first_last_nth", "q272_date_trunc_tz",
    "q194_pack_sequences", "q209_knn_match_sql", "q184_match_score",
    "q153_typeof_setting", "q280_clustered_plan_probe"]

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------- build ----------

def build(build_dir):
    """Compiles src/main/scala plus the harness into one class dir, reusing
    it while the sources are unchanged."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        raise BenchError("no engine sources under src/main/scala")
    srcs += sorted((HERE / "src").glob("*.scala"))
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes, stamp = build_dir / "classes", build_dir / "classes.sha256"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    compiler = ":".join(str(SPARK_JARS / f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} files")
    t0 = time.time()
    proc = run_proc(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                     "-usejavacp", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
                     "-d", str(classes), f"@{argfile}"], build_dir / "compile.log", 800)
    if proc != 0:
        raise BenchError(f"compile failed, see {build_dir / 'compile.log'}")
    stamp.write_text(h.hexdigest())
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def run_proc(cmd, log_path, timeout):
    """Runs `cmd` in its own process group; on timeout or interrupt the
    whole group is killed and reaped before returning."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


# ---------- inputs ----------

def copy_tables(sf, dest):
    """A private copy of the fixture tables at `sf`: the engine keys some of
    its memos by input directory, so each copy starts with those cold."""
    shutil.copytree(FIXTURES / sf, dest)
    return str(dest)


def catalog_inputs(work, seed):
    src = FIXTURES / CATALOG_SF
    rows = {f.stem: pq.ParquetFile(f).metadata.num_rows for f in sorted(src.glob("*.parquet"))}
    order = list(np.random.default_rng(seed).permutation(CATALOG_ENTRIES))
    return {"entries": order, "table_rows": rows, "data": str(src),
            "check_data": copy_tables(CATALOG_SF, work / "check_data"),
            "pass_data": [copy_tables(CATALOG_SF, work / f"data{p}") for p in range(CATALOG_PASSES)]}


def sql_inputs(work, seed):
    return {"passes": [sqlgen.generate(work / f"sql{p}", np.random.default_rng([seed, p]))
                       for p in range(SQL_PASSES)],
            "prewarm_sql": sqlgen.generate(work / "prewarm", np.random.default_rng([seed, SQL_PASSES]),
                                           rows_per_file=100, n_ops=10)}


# ---------- one run ----------

def run(args, build_dir):
    classes = build(build_dir)
    work = build_dir / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return run_in(args, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(args, classes, work):
    nproc = len(os.sched_getaffinity(0))
    t0 = time.time()
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "nproc": nproc, "work": str(work),
            "check_dir": str(work / "check"),
            "min_rounds": WARM_ROUNDS + 1 if args.trace else WARM_ROUNDS}
    if args.workload == "catalog":
        plan.update(catalog_inputs(work, args.seed))
    else:
        plan.update(sql_inputs(work, args.seed))
    (work / "plan.json").write_text(json.dumps(plan))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p)]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dderby.system.home={work}", f"-Dgraft.artifact.dir={work / 'artifacts'}",
              "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness",
              str(work / "plan.json"), str(work / "raw.json")])
    t1 = time.time()
    code = run_proc(cmd, work / "jvm.log", JVM_TIMEOUT_S)
    log(f"inputs {t1 - t0:.1f} s, harness {time.time() - t1:.1f} s")
    if code != 0 or not (work / "raw.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        raise BenchError(f"harness exited {code}:\n" + "\n".join(tail))
    raw = json.loads((work / "raw.json").read_text())
    t2 = time.time()
    if args.workload == "sql_dml":
        verdict = checks.check_sql(plan["passes"], raw)
    else:
        verdict = checks.check_entries(plan, raw)
    setups = " ".join(f"{s['total_s']:.1f}" for s in raw["setup"])
    log(f"set-ups {setups} s, prewarm {raw['prewarm_s']:.1f} s, measured {raw['measured_s']:.1f} s, "
        f"check {time.time() - t2:.1f} s")
    return plan, raw, verdict


def main():
    # a terminated run still stops and reaps the JVM (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["catalog", "sql_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"
    build_dir.mkdir(parents=True, exist_ok=True)
    try:
        plan, raw, verdict = run(args, build_dir)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    report, metrics = layers.metrics(args.workload, plan, raw, verdict, bool(args.trace))
    for line in report:
        print(line)
    for problem in verdict["problems"][:20]:
        log(f"CHECK FAILED: {problem}")
    print(json.dumps({"correct": not verdict["problems"], "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))
    sys.exit(0 if not verdict["problems"] else 1)


if __name__ == "__main__":
    main()
