"""Turns the harness's raw samples into the benchmark's metrics.

End-to-end metrics (every workload reports all of them):
  setup_s           median over the run's sessions of engine session start,
                    input registration and one warm-up op
  cold_total_s      mean over the measured passes, each in a fresh session
                    on fresh inputs, of the pass's cold ops (catalog: every
                    entry once; sql_dml: CREATE, the COPY FROM ingest, the
                    OPTIMIZE and the first statement of each kind)
  warm_total_s      sum over distinct ops of the op's median warm time
  heap_retained_mb  heap in use after full GCs at the end of the run
Failed or wrong ops are left out of every timing and counted in `failed`.

Per-layer metrics come from the traced run; per-op values are medians over
the traced warm samples of that op, summed over the workload's distinct ops
(`*_cold_*`: summed over each pass's cold ops, mean over passes).
"""
import json
import statistics
from pathlib import Path

FAMILIES = json.loads((Path(__file__).resolve().parent / "families.json").read_text())
FAMILY_NAMES = ["relational", "window", "scalar", "text_dedup", "vector", "fulltext",
                "ddl_dml_catalog", "streaming"]
SQL_KINDS = ["point", "agg_day", "agg_bin", "insert", "update", "upsert", "delete"]
READS = {"point", "agg_day", "agg_bin"}

END_TO_END = {"setup_s": "s", "cold_total_s": "s", "warm_total_s": "s", "heap_retained_mb": "MB"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """{"p90_s" or "p75_s": value} for the higher of the two percentiles
    with at least ten samples beyond it; empty when there are fewer than 40."""
    for p in (90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return {f"p{p}_s": statistics.quantiles(xs, n=100, method="inclusive")[p - 1]}
    return {}


def by_name(ops):
    out = {}
    for op in ops:
        out.setdefault(op["name"], []).append(op)
    return out


def pass_mean(ops, value=lambda op: op["s"]):
    """Mean over passes of the sum of `value` over each pass's ops. Each
    cold op has one sample per pass, and with three passes the mean uses
    all of them where a median would keep one."""
    sums = {}
    for op in ops:
        sums[op["pass"]] = sums.get(op["pass"], 0) + value(op)
    return statistics.fmean(sums.values()) if sums else 0.0


def sum_median(ops, value=lambda op: op["s"]):
    """Sum over distinct op names of the median of `value(op)` (None
    values left out): a burst of host load that slows a few samples
    moves no median."""
    total = 0.0
    for vs in by_name(ops).values():
        total += median([x for x in (value(v) for v in vs) if x is not None])
    return total


def metrics(workload, plan, raw, verdict, trace):
    good = [op for op in raw["ops"] if op["op"] not in verdict["bad_ops"]]
    cold = [op for op in good if op["phase"] == "cold"]
    # with tracing, only the untraced warm samples feed end-to-end figures
    warm = [op for op in good if op["phase"] == "warm" and not op["traced"]]
    warm_by = by_name(warm)
    e2e = {
        "setup_s": median([s["total_s"] for s in raw["setup"]]),
        "cold_total_s": pass_mean(cold),
        "warm_total_s": sum_median(warm),
        "heap_retained_mb": raw["heap_retained_mb"],
    }
    # the median of a mix of unlike ops falls between two ops' clusters and
    # jumps between them from run to run, so it is printed but not bounded
    extra = {"failed_frac": (verdict["failed"] / verdict["attempted"], "ratio"),
             "warm_p50_s": (median([op["s"] for op in warm]), "s")}
    extra.update({f"warm_{k}": (v, "s") for k, v in tail([op["s"] for op in warm]).items()})
    extra["warm_samples"] = (len(warm), "count")
    if workload == "sql_dml":
        copy_rows = sum(sql["copy_rows"] for sql in plan["passes"])
        copy_s = sum(op["s"] for op in cold if op["name"] == "copy")
        for cls, members in (("read", READS), ("write", set(SQL_KINDS) - READS)):
            xs = [op["s"] for op in warm if op["name"] in members]
            extra[f"{cls}_p50_s"] = (median(xs), "s")
            extra.update({f"{cls}_{k}": (v, "s") for k, v in tail(xs).items()})
            extra[f"{cls}_samples"] = (len(xs), "count")
        extra["ingest_rows_per_s"] = (copy_rows / copy_s if copy_s else 0.0, "1/s")
        extra["space_amp"] = (median([p["bytes_on_disk"] / max(1, p["live_bytes"])
                                      for p in raw["passes"]]), "ratio")
    else:
        rows = {n: e["input_rows"] for n, e in raw["entries"].items()}
        secs = sum(op["s"] for op in warm)
        extra["rows_per_s"] = (sum(rows[op["name"]] for op in warm) / secs if secs else 0.0, "1/s")
    prints = verdict.get("fingerprints", {})
    report = [f"op {workload} {n} cold_median {median([o['s'] for o in vs]):.3f} s warm_median "
              f"{median([o['s'] for o in warm_by.get(n, [])]):.3f} s "
              f"n={len(warm_by.get(n, []))} output={prints.get(n, '-')}" for n, vs in by_name(cold).items()]
    report += [f"metric {workload} {k} {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    report += [f"metric {workload} {k} {v:.6g} {u}" for k, (v, u) in extra.items()]
    if not trace:
        return report, {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    per = per_layer(workload, plan, raw, good)
    report += [f"layer {workload} {k} {v['value']:.6g} {v['unit']}" for k, v in per.items()]
    return report, per


# ---------- traced run ----------


def _ops_view(raw, good):
    """Per op: wall time, span durations and self times, and the listener
    counters summed over the op's phases (build-phase jobs kept apart)."""
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(s["op"], []).append(s)
    counters = {}
    for key, c in raw["counters"].items():
        if key == "none":
            continue
        op, phase = key.split("/")
        tot = counters.setdefault(int(op), {"phase_jobs": {}})
        tot["phase_jobs"][phase] = tot["phase_jobs"].get(phase, 0) + c["jobs"]
        for k, v in c.items():
            tot[k] = tot.get(k, 0) + v
    out = []
    for op in good:
        view = dict(op)
        sp = spans.get(op["op"], [])
        dur = {}
        for s in sp:
            dur[s["name"]] = dur.get(s["name"], 0) + (s["end"] - s["start"]) / 1e9
        child = sum(v for k, v in dur.items() if k != "op")
        if "op" in dur:
            dur["op_self"] = dur["op"] - child
        view["spans"] = dur
        view["counters"] = counters.get(op["op"], {"phase_jobs": {}})
        out.append(view)
    return out


def per_layer(workload, plan, raw, good):
    nproc = plan["nproc"]
    views = _ops_view(raw, good)
    cold = [v for v in views if v["phase"] == "cold"]
    warm_t = [v for v in views if v["phase"] == "warm" and v["traced"]]
    warm_u = [v for v in views if v["phase"] == "warm" and not v["traced"]]
    warm_all = warm_t + warm_u
    span = lambda name: (lambda v: v["spans"].get(name))
    cnt = lambda key: (lambda v: v["counters"].get(key, 0))
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    phase_jobs = lambda ph: (lambda v: v["counters"]["phase_jobs"].get(ph, 0))
    put("queries.build_s", sum_median(warm_t, span("build")), "s")
    put("queries.build_cold_s", pass_mean(cold, lambda v: v["spans"].get("build", 0)), "s")
    put("queries.build_jobs", sum_median(warm_t, phase_jobs("build")), "count")
    put("queries.build_jobs_cold", pass_mean(cold, phase_jobs("build")), "count")
    warm_med = {n: median([v["s"] for v in vs]) for n, vs in by_name(warm_all).items()}
    put("memo.gap_s", sum(median([v["s"] for v in vs]) - warm_med[n]
                          for n, vs in by_name(cold).items() if n in warm_med), "s")

    put("catalyst.plan_s", sum_median(warm_t, span("plan")), "s")
    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_s", sum_median(warm_t, lambda v: v.get("phases", {}).get(ph, 0) / 1e3), "s")

    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}", sum_median(warm_all, cnt(k)), "count")
    run_s = sum(v["counters"].get("task_run_ms", 0) for v in warm_all) / 1e3
    wall = sum(v["s"] for v in warm_all)
    put("exec.slot_util", run_s / (wall * nproc) if wall else 0.0, "ratio")
    exec_span = (lambda v: v["spans"].get("exec")) if workload != "sql_dml" else \
        (lambda v: v["spans"].get("execute", 0) + v["spans"].get("result", 0) if v["spans"] else None)
    put("exec.s", sum_median(warm_t, exec_span), "s")
    put("exec.task_run_s", sum_median(warm_all, lambda v: cnt("task_run_ms")(v) / 1e3), "s")
    put("exec.task_cpu_s", sum_median(warm_all, lambda v: cnt("task_cpu_ns")(v) / 1e9), "s")
    put("exec.task_gc_s", sum_median(warm_all, lambda v: cnt("task_gc_ms")(v) / 1e3), "s")
    put("exec.scan_rows", sum_median(warm_all, cnt("scan_rows")), "count")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        put(f"exec.{k}", sum_median(warm_all, cnt(k)), "B")
    put("exec.failed_tasks", sum(cnt("failed_tasks")(v) for v in views), "count")

    put("dialect.translate_s", sum_median(warm_t, span("translate")), "s")
    put("router.execute_s", sum_median(warm_t, span("execute")), "s")
    put("router.result_s", sum_median(warm_t, span("result")), "s")
    put("router.jobs", sum_median(warm_t, phase_jobs("execute")), "count")
    for kind in SQL_KINDS:
        put(f"sql.{kind}_p50_s", median([v["s"] for v in warm_all if v["name"] == kind]), "s")
    put("sql.copy_s", pass_mean([v for v in cold if v["name"] == "copy"]), "s")
    put("sql.optimize_s", median([v["s"] for v in views if v["name"] == "optimize"]), "s")

    if workload == "sql_dml":
        # per pass, median over passes
        st = {k: [] for k in ("bytes_written", "write_amp", "bytes_on_disk", "files",
                              "versions", "space_amp")}
        for sql, p in zip(plan["passes"], raw["passes"]):
            written = sum(s["bytes_written"] for s in p["storage"])
            rows_written = sql["copy_rows"] + sum(o["rows_written"] for o in sql["ops"])
            user_bytes = rows_written * p["live_bytes"] / max(1, sql["final"][0])
            st["bytes_written"].append(written)
            st["write_amp"].append(written / user_bytes if user_bytes else 0.0)
            st["space_amp"].append(p["bytes_on_disk"] / max(1, p["live_bytes"]))
            for k in ("bytes_on_disk", "files", "versions"):
                st[k].append(p[k])
        for k, u in (("bytes_written", "B"), ("write_amp", "ratio"), ("bytes_on_disk", "B"),
                     ("files", "count"), ("versions", "count"), ("space_amp", "ratio")):
            put(f"storage.{k}", median(st[k]), u)
    else:
        for k, u in (("bytes_written", "B"), ("write_amp", "ratio"), ("bytes_on_disk", "B"),
                     ("files", "count"), ("versions", "count"), ("space_amp", "ratio")):
            put(f"storage.{k}", 0, u)

    put("jvm.gc_s", raw["jvm_gc_s"], "s")
    for k in ("session_s", "data_s", "warmup_s"):
        put(f"setup.{k}", median([s[k] for s in raw["setup"]]), "s")
    put("setup.prewarm_s", raw["prewarm_s"], "s")

    for f in FAMILY_NAMES:
        members = [v for v in warm_all if FAMILIES.get(v["name"]) == f]
        put(f"family.{f}.warm_s", sum_median(members, lambda v: v["s"]), "s")
        put(f"family.{f}.cold_s", pass_mean([v for v in cold if FAMILIES.get(v["name"]) == f]), "s")

    # self time: the call spans have no child spans, so their self times are
    # the span metrics above; the op's own is its wall time minus its calls
    put("self.op_s", sum_median(warm_t, span("op_self")), "s")
    over = 0.0
    med_u = {n: median([v["s"] for v in vs]) for n, vs in by_name(warm_u).items()}
    for n, vs in by_name(warm_t).items():
        if n in med_u:
            over += median([v["s"] for v in vs]) - med_u[n]
    put("trace.overhead_s", over, "s")
    covers = []
    for vs in by_name(warm_t).values():
        c = [sum(v["spans"].get(k, 0) for k in ("build", "plan", "exec", "translate", "execute", "result"))
             / v["spans"]["op"] for v in vs if v["spans"].get("op")]
        if c:
            covers.append(median(c))
    put("trace.min_cover", min(covers) if covers else 0.0, "ratio")
    put("trace.spans", len(raw["spans"]), "count")
    return m
