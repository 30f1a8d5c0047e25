"""Output checks. Every failed or wrong op counts against `failed`.

Catalog entries with an oracle query (`SparkEntry.oracleSql`) are compared
with DuckDB over the same input files, the way the repo's correctness gate
does: columns sorted by name, rows sorted, exact values. An entry without
one must return rows; its row count and order-insensitive fingerprint are
reported. The sql_dml statements of every pass are compared with the model
in sqlgen.
"""
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], rows


def fingerprint(cols, rows):
    """Row count plus a hash of the sorted canonical rows."""
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def check_entry(con, name, info):
    """Returns (problem or None, fingerprint)."""
    if info.get("err"):
        return f"{name}: check run failed: {info['err']}", None
    try:
        got_cols, got = canon(con.sql(f"SELECT * FROM read_parquet('{info['path']}/*.parquet')"))
    except Exception as e:
        return f"{name}: unreadable output: {e}", None
    fp = fingerprint(got_cols, got)
    if info.get("oracle"):
        try:
            want_cols, want = canon(con.sql(info["oracle"]))
        except Exception as e:
            return f"{name}: oracle failed: {str(e)[:200]}", fp
        if got_cols != want_cols:
            return f"{name}: columns {got_cols} != oracle {want_cols}", fp
        if got != want:
            diff = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
            return f"{name}: {len(got)} rows vs oracle {len(want)}, first difference at row {diff}", fp
        return None, fp
    return (None if got else f"{name}: no rows"), fp


def check_entries(plan, raw):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{plan['data']}/{t}.parquet')")
    problems, wrong, prints = [], set(), {}
    for name, info in raw["entries"].items():
        problem, prints[name] = check_entry(con, name, info)
        if problem:
            problems.append(problem)
            wrong.add(name)
    for op in raw["ops"]:
        if not op["ok"]:
            problems.append(f"{op['name']} ({op['phase']}) failed: {op.get('err')}")
    return _verdict(raw["ops"], lambda op: op["name"] in wrong, problems, fingerprints=prints)


def _same(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if a is None or b is None or float(a) != float(b):
                    return False
            elif a != b:
                return False
    return True


def check_sql(passes, raw):
    """Per pass, compares every statement's result with the model, then the
    final count/sum through the live router and through a reopened one."""
    problems, wrong = [], set()
    if len(raw["passes"]) != len(passes):
        problems.append(f"ran {len(raw['passes'])} passes, planned {len(passes)}")
    for i, (sql, got) in enumerate(zip(passes, raw["passes"]), start=1):
        ops = [op for op in raw["ops"] if op["pass"] == i]
        expects = [None] + sql["copy_expect"] + [o["expect"] for o in sql["ops"]]
        stmts = ([sql["ddl"]] + [f"COPY FROM {f}" for f in sql["copy_files"]]
                 + [o["sql"] for o in sql["ops"]])
        if len(ops) != len(expects):
            problems.append(f"pass {i}: ran {len(ops)} statements, planned {len(expects)}")
        for op, want, stmt in zip(ops, expects, stmts):
            if not op["ok"]:
                problems.append(f"{op['name']} failed: {op.get('err')} [{stmt[:120]}]")
            elif want is not None and not _same(op["rows"], want):
                problems.append(f"{op['name']} returned {str(op['rows'])[:200]}, model says "
                                f"{str(want)[:200]} [{stmt[:120]}]")
                wrong.add(op["op"])
        for key in ("final", "reopen"):
            if not _same([got[key]], [sql["final"]]):
                problems.append(f"pass {i}: {key} count/sum {got[key]} != model {sql['final']}")
    return _verdict(raw["ops"], lambda op: op["op"] in wrong, problems)


def _verdict(ops, is_wrong, problems, **extra):
    bad = {op["op"] for op in ops if not op["ok"] or is_wrong(op)}
    return dict(attempted=len(ops), failed=len(bad), bad_ops=bad, problems=problems, **extra)
