#!/usr/bin/env python3
"""Round-close bench with built-in adjudication (VERDICT r12 ask #5).

Runs graft.Bench (full catalog, quiet box), compares every row against
the PREVIOUS round's close artifact, and for each row >1.5x its previous
close value re-runs it isolated (`graft.BenchOne <q> <reps>` in a fresh
JVM, 3 reps) — writing the reps into the artifact under `isolated` so
the sweep-pollution adjudication (the r4/r12 pattern: GC/cleaner noise
makes individual rows look 2-6x slow inside a 250-entry sweep) ships
WITH the numbers instead of being a per-round manual step.

Usage:
  python3 tools/close_bench.py <prev_close.json> <out.json> [sf_dir]

The mains launch through tools/run_graft.sh (compiled classes, Spark
jars, add-opens flags).
"""
import json
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_java(main, *args, env_extra=None):
    env = dict(os.environ, **(env_extra or {}))
    cmd = [str(ROOT / "tools" / "run_graft.sh"), main] + list(args)
    return subprocess.run(cmd, capture_output=True, text=True, env=env)


def main():
    prev_path, out_path = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    prev = json.loads(Path(prev_path).read_text()).get("queries", {})

    print(f"[close] full bench at {sf_dir} ...", flush=True)
    r = run_java("graft.Bench", env_extra={"SPARK_GRAFT_SF_DIR": sf_dir})
    line = [l for l in r.stdout.splitlines() if l.startswith('{"metric"')]
    if not line:
        print(r.stdout[-3000:], r.stderr[-3000:])
        sys.exit("no bench JSON line")
    bench = json.loads(line[-1])

    flagged = []
    for q, sec in bench["queries"].items():
        p = prev.get(q)
        if p and p > 0 and sec / p > 1.5:
            flagged.append((q, sec, p))
    flagged.sort(key=lambda t: -(t[1] / t[2]))
    print(f"[close] {len(flagged)} rows >1.5x previous close; "
          f"isolating each with BenchOne x3", flush=True)

    isolated = {}
    for q, sec, p in flagged:
        rr = run_java("graft.BenchOne", q, "3",
                      env_extra={"SPARK_GRAFT_SF_DIR": sf_dir})
        reps = [float(m) for m in
                re.findall(r"rep\d+: ([0-9.]+) s", rr.stdout)]
        isolated[q] = {"sweep_sec": round(sec, 3),
                       "prev_close_sec": round(p, 3),
                       "sweep_ratio": round(sec / p, 2),
                       "isolated_reps_sec": reps}
        verdict = ("environmental" if reps and min(reps) < 1.5 * p
                   else "investigate")
        isolated[q]["verdict"] = verdict
        print(f"[close] {q}: sweep {sec:.2f}s vs prev {p:.2f}s "
              f"-> isolated {reps} => {verdict}", flush=True)

    bench["isolated"] = isolated

    # ---- same-window tail sample (VERDICT r13 ask #6) ----
    # the driver's BENCH_rNN.json exposes only its 2000-char tail; the
    # judge's round-over-round ratio lives on those keys. Re-time exactly
    # that subset right after the close so the artifact carries a baseline
    # from the SAME box window the close ran in.
    driver_benches = sorted(ROOT.glob("BENCH_r[0-9][0-9].json"),
                            key=lambda p: p.name)
    tail_keys = []
    if driver_benches:
        tail = json.loads(driver_benches[-1].read_text()).get("tail", "")
        tail_keys = [k for k, _ in re.findall(r'"(q\w+)":([0-9.]+)', tail)]
        tail_keys = [k for k in tail_keys if k in bench["queries"]]
    if tail_keys:
        print(f"[close] tail sample: {len(tail_keys)} keys from "
              f"{driver_benches[-1].name}", flush=True)
        rr = run_java("graft.BenchSample", ",".join(tail_keys),
                      env_extra={"SPARK_GRAFT_SF_DIR": sf_dir})
        sline = [l for l in rr.stdout.splitlines()
                 if l.startswith('{"metric"')]
        if sline:
            sample = json.loads(sline[-1])
            bench["tail_sample"] = {
                "source": driver_benches[-1].name,
                "keys": len(tail_keys),
                "total_sec": round(sample["value"], 3),
                "queries": sample["queries"],
            }
        else:
            print("[close] tail sample produced no JSON line",
                  rr.stderr[-1500:], flush=True)

    Path(out_path).write_text(json.dumps(bench))
    print(f"[close] wrote {out_path}: total {bench['value']:.1f}s / "
          f"{len(bench['queries'])} queries, {len(isolated)} adjudicated, "
          f"tail_sample={'yes' if bench.get('tail_sample') else 'no'}")


if __name__ == "__main__":
    main()
