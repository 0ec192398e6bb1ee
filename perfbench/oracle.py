"""Answer checks: every op's answer against DuckDB on the same parquet tables.

Each op carries an oracle SQL: the registry's own `SparkEntry.oracleSql`
entry for batch queries, the registry's SQL with the drawn parameters
substituted for seeded traverser reads, and a read-back query for writes.
Both sides are canonicalised like the engine's own correctness gate
(columns sorted by name, rows sorted with floats rounded to 9 digits) and
then compared cell by cell: floating-point cells within REL_TOL/ABS_TOL,
so that a last-digit difference in summation order is not a wrong answer,
every other cell exactly. Expected answers of parameter-free SQL are cached
by the SHA-256 of the SQL under `<cache_dir>`, since the tables are fixed.

Standalone use, to re-check (and re-cache) the answers of a raw run file:

    python3 perfbench/oracle.py <data_dir> <raw_run.json> [<cache_dir>]
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
REL_TOL, ABS_TOL = 1e-9, 2e-9


def norm(v):
    """One value as a comparable, hashable canonical form."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return (2, "NaN")
        return (1, f)
    if isinstance(v, str):
        try:  # NaN/Infinity cross the JSON boundary as strings
            f = float(v)
            if math.isnan(f) or math.isinf(f):
                return (2, v if not math.isnan(f) else "NaN")
        except ValueError:
            pass
        return (3, v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (1, (v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return (1, (v - EPOCH.date()).days)
    if isinstance(v, dict):
        return (4, tuple(sorted((str(k), norm(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return (4, tuple(norm(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return (3, v.hex())
    return (3, str(v))


def sort_key(x):
    """A canonical value with its floats rounded to 9 digits, for sorting."""
    if isinstance(x, float):
        return round(x, 9)
    if isinstance(x, tuple):
        return tuple(sort_key(y) for y in x)
    return x


def canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    return cols, sorted((tuple(norm(r[i]) for i in order) for r in rows), key=sort_key)


def same(a, b):
    """Equality of two canonical values; floats within the tolerance."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float)) and
                math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL))
    return a == b


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def expected(con, sql, cache_dir=None):
    """(columns, canonical rows) of the oracle SQL, from the cache if there."""
    path = None
    if cache_dir:
        path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as f:
                c = json.load(f)
            return c["columns"], [tuple(_tuplify(x) for x in r) for r in c["rows"]]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    result = canon(cols, cur.fetchall())
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"columns": result[0], "rows": result[1]}, f)
        os.replace(tmp, path)
    return result


def _tuplify(x):
    return tuple(_tuplify(y) for y in x) if isinstance(x, list) else x


def check(con, op, sql, cache=True, cache_dir=None):
    """None when the op's answer equals the oracle's, else why not."""
    if not op["ok"]:
        return "error: " + str(op["error"])
    if sql is None:
        return "no oracle SQL"
    try:
        exp_cols, exp_rows = expected(con, sql, cache_dir if cache else None)
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle failed: {e}"
    got_cols, got_rows = canon(op["columns"], op["rows"])
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != {len(exp_rows)}"
    bad = sum(1 for a, b in zip(got_rows, exp_rows) if not same(a, b))
    if bad:
        return f"{bad} differing rows"
    return None


def check_run(raw, data_dir, sql_of, cache_dir=None):
    """Checks every op of a raw run; returns {op id: failure reason}."""
    con = connect(data_dir)
    failures = {}
    for op in raw["ops"]:
        sql, cacheable = sql_of(op, raw)
        why = check(con, op, sql, cacheable, cache_dir)
        if why is not None:
            failures[op["id"]] = why
    con.close()
    return failures


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import loadgen as rq
    data, raw_path = sys.argv[1], sys.argv[2]
    with open(raw_path) as f:
        raw = json.load(f)
    fails = check_run(raw, data, rq.oracle_sql, sys.argv[3] if len(sys.argv) > 3 else None)
    for op in raw["ops"]:
        print(("FAIL " if op["id"] in fails else "PASS ") + op["id"], op["op"],
              fails.get(op["id"], ""))
    print(f"== {len(raw['ops']) - len(fails)} pass, {len(fails)} fail")
    sys.exit(1 if fails else 0)
