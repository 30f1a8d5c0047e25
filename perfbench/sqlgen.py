"""Seeded traffic for the `sql_dml` workload, with its expected results.

A CrateDB-style application table, `metrics`, partitioned by day with a
primary key, is loaded by COPY FROM from JSON-lines files and then serves
a stream of reads (55%) and writes (45%) with an OPTIMIZE TABLE every 10
ops. A model of the table, kept here and independent of the engine, gives
the expected result of every statement.

Values are multiples of 0.25, so every sum is exact in binary floating
point and is compared exactly, whatever order the engine adds in.
"""
import json
from datetime import datetime, timedelta, timezone

TABLE = "metrics"
DDL = (f"CREATE TABLE {TABLE} (id BIGINT PRIMARY KEY, day TEXT, ts TIMESTAMP, "
       "host TEXT, value DOUBLE PRECISION) PARTITIONED BY (day)")
DAYS = [f"2024-03-{d:02d}" for d in range(1, 9)]
HOSTS = [f"h{i}" for i in range(16)]
COPY_FILES = 1
ROWS_PER_FILE = 2000
INSERT_ROWS = 50
UPSERT_ROWS = 10
DELETE_SPAN = 20
# One block of 20 ops: 11 reads, 9 writes, in seeded order.
BLOCK = (["point"] * 5 + ["agg_day"] * 3 + ["agg_bin"] * 3
         + ["insert"] * 3 + ["update"] * 2 + ["upsert"] * 2 + ["delete"] * 2)
READS = {"point", "agg_day", "agg_bin"}
OPTIMIZE_EVERY = 10
STREAM_OPS = 20


def _row(rng, rid):
    day = DAYS[rng.integers(len(DAYS))]
    t = datetime.fromisoformat(day).replace(tzinfo=timezone.utc)
    ts = (t + timedelta(seconds=int(rng.integers(86400)))).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {"id": rid, "day": day, "ts": ts, "host": HOSTS[rng.integers(len(HOSTS))],
            "value": int(rng.integers(0, 4000)) / 4}


def _values(rows):
    return ", ".join(f"({r['id']}, '{r['day']}', '{r['ts']}', '{r['host']}', {r['value']})"
                     for r in rows)


class Model:
    def __init__(self):
        self.rows = {}

    def apply(self, rows):
        for r in rows:
            self.rows[r["id"]] = r

    def point(self, rid):
        r = self.rows.get(rid)
        return [] if r is None else [[r["id"], r["day"], r["ts"], r["host"], r["value"]]]

    def agg_day(self):
        acc = {}
        for r in self.rows.values():
            n, s = acc.get(r["day"], (0, 0.0))
            acc[r["day"]] = (n + 1, s + r["value"])
        return [[d, n, s] for d, (n, s) in sorted(acc.items())]

    def agg_bin(self, day):
        acc = {}
        for r in self.rows.values():
            if r["day"] == day:
                b = r["ts"][:13] + ":00:00Z"
                n, s = acc.get(b, (0, 0.0))
                acc[b] = (n + 1, s + r["value"])
        return [[b, n, s] for b, (n, s) in sorted(acc.items())]

    def total(self):
        return [len(self.rows), sum(r["value"] for r in self.rows.values())]


def generate(out_dir, rng, rows_per_file=None, n_ops=None):
    """Writes the COPY FROM files under `out_dir`; returns the plan section
    (statements, kinds, expected results)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    files = COPY_FILES
    rows_per_file = rows_per_file or ROWS_PER_FILE
    n_ops = n_ops or STREAM_OPS
    model, paths, next_id = Model(), [], 0
    for f in range(files):
        rows = [_row(rng, next_id + i) for i in range(rows_per_file)]
        next_id += rows_per_file
        path = out_dir / f"part-{f}.json"
        path.write_text("".join(json.dumps(r) + "\n" for r in rows))
        model.apply(rows)
        paths.append(str(path))
    copy_expect = [[[rows_per_file]] for _ in paths]
    kinds = []
    while len(kinds) < n_ops:
        kinds += list(rng.permutation(BLOCK))
    ops = []
    for i, kind in enumerate(kinds[:n_ops]):
        if i and i % OPTIMIZE_EVERY == 0:
            ops.append({"kind": "optimize", "sql": f"OPTIMIZE TABLE {TABLE}", "write": True,
                        "expect": None, "rows_written": 0})
        ids = sorted(model.rows)
        op = {"kind": kind, "write": kind not in READS, "rows_written": 0}
        if kind == "point":
            rid = int(ids[rng.integers(len(ids))]) if rng.random() < 0.8 else int(rng.integers(next_id + 100))
            op["sql"] = f"SELECT id, day, ts, host, value FROM {TABLE} WHERE id = {rid}"
            op["expect"] = model.point(rid)
        elif kind == "agg_day":
            op["sql"] = f"SELECT day, count(*) AS n, sum(value) AS s FROM {TABLE} GROUP BY day ORDER BY day"
            op["expect"] = model.agg_day()
        elif kind == "agg_bin":
            day = DAYS[rng.integers(len(DAYS))]
            op["sql"] = (f"SELECT date_bin('1 hour'::interval, ts, 0) AS b, count(*) AS n, "
                         f"sum(value) AS s FROM {TABLE} WHERE day = '{day}' GROUP BY 1 ORDER BY 1")
            op["expect"] = model.agg_bin(day)
        elif kind == "insert":
            rows = [_row(rng, next_id + j) for j in range(INSERT_ROWS)]
            next_id += INSERT_ROWS
            op["sql"] = f"INSERT INTO {TABLE} (id, day, ts, host, value) VALUES {_values(rows)}"
            op["expect"], op["rows_written"] = [[len(rows)]], len(rows)
            model.apply(rows)
        elif kind == "update":
            rid = int(ids[rng.integers(len(ids))])
            v = int(rng.integers(0, 4000)) / 4
            op["sql"] = f"UPDATE {TABLE} SET value = {v} WHERE id = {rid}"
            op["expect"], op["rows_written"] = [[1]], 1
            model.rows[rid] = dict(model.rows[rid], value=v)
        elif kind == "upsert":
            old = [int(ids[k]) for k in rng.choice(len(ids), UPSERT_ROWS // 2, replace=False)]
            rows = [dict(model.rows[rid], value=int(rng.integers(0, 4000)) / 4) for rid in old]
            rows += [_row(rng, next_id + j) for j in range(UPSERT_ROWS - len(old))]
            next_id += UPSERT_ROWS - len(old)
            op["sql"] = (f"INSERT INTO {TABLE} (id, day, ts, host, value) VALUES {_values(rows)} "
                         "ON CONFLICT (id) DO UPDATE SET value = excluded.value")
            op["expect"], op["rows_written"] = [[len(rows)]], len(rows)
            model.apply(rows)
        else:
            lo = int(rng.integers(next_id - DELETE_SPAN))
            gone = [rid for rid in range(lo, lo + DELETE_SPAN) if rid in model.rows]
            op["sql"] = f"DELETE FROM {TABLE} WHERE id >= {lo} AND id < {lo + DELETE_SPAN}"
            op["expect"] = [[len(gone)]]
            for rid in gone:
                del model.rows[rid]
        ops.append(op)
    return {"root": str(out_dir / "root"), "table": TABLE, "ddl": DDL, "copy_files": paths,
            "copy_rows": files * rows_per_file, "copy_expect": copy_expect,
            "ops": ops, "final": model.total()}
