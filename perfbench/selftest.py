#!/usr/bin/env python3
"""Self-test of the benchmark harness at sf 0.001 with tiny op counts.

    python3 perfbench/selftest.py

Runs a three-entry catalog and a one-block sql_dml stream (both untraced
and traced), checks that their outputs pass and that they report exactly
the metrics BENCHMARK.json lists, then plants a wrong expected
value in each (an oracle that returns no rows; a point lookup whose model
value is off by 0.25) and checks that the output check catches it and
counts the affected ops as failed.
"""
import argparse
import json
import os
import shutil
import sys

import checks
import layers
import run
import sqlgen


def fail(msg):
    print(f"SELFTEST FAILED: {msg}")
    sys.exit(1)


def main():
    run.CATALOG_SF = "sf0.001"
    run.CATALOG_ENTRIES = ["q09_join_inner", "q153_typeof_setting", "q263_substr"]
    sqlgen.ROWS_PER_FILE = 50
    build_dir = (run.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"
    build_dir.mkdir(parents=True, exist_ok=True)
    classes = run.build(build_dir)
    for trace in (0, 1):
        for workload in ("catalog", "sql_dml"):
            work = build_dir / f"selftest-{workload}-{trace}"
            shutil.rmtree(work, ignore_errors=True)
            (work / "tmp").mkdir(parents=True)
            try:
                check(workload, trace, classes, work)
            finally:
                shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")


def check(workload, trace, classes, work):
    args = argparse.Namespace(workload=workload, seed=7, seconds=1, trace=trace)
    plan, raw, verdict = run.run_in(args, classes, work)
    if verdict["problems"]:
        fail(f"{workload}: clean run reported {verdict['problems']}")
    _, metrics = layers.metrics(workload, plan, raw, verdict, bool(trace))
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    if {k: v["unit"] for k, v in metrics.items()} != want:
        fail(f"{workload}: metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(want))}")
    print(f"ok   {workload} trace={trace}: {len(metrics)} metrics, "
          f"{verdict['attempted']} ops checked")
    if trace:
        return
    if workload == "catalog":
        name = plan["entries"][0]
        info = raw["entries"][name]
        info["oracle"] = f"SELECT * FROM ({info['oracle']}) LIMIT 0"
        planted = checks.check_entries(plan, raw)
        n_ops = sum(1 for op in raw["ops"] if op["name"] == name)
        caught = any(p.startswith(name) for p in planted["problems"])
    else:
        op = next(o for o in plan["passes"][0]["ops"] if o["kind"] == "point" and o["expect"])
        op["expect"] = [op["expect"][0][:4] + [op["expect"][0][4] + 0.25]]
        planted = checks.check_sql(plan["passes"], raw)
        n_ops = 1
        caught = any(op["sql"][:100] in p for p in planted["problems"])
    if not caught or planted["failed"] != n_ops:
        fail(f"{workload}: planted wrong value not caught: {planted['problems']}")
    print(f"ok   {workload}: planted wrong value caught, {n_ops} op(s) counted failed")


if __name__ == "__main__":
    main()
