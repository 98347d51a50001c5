"""Expected results from DuckDB, and the comparison of the engine's rows
against them.

The fixed texts (the DuckDB side of the battery texts the serve
dashboards send and the nine pipeline queries' oracles, copied under
perfbench/sql) are computed once per data set and cached in
perfbench/.cache; `python3 perfbench/oracle.py --rebuild` computes them
anew. Templated texts carry fresh literals on
every request and are computed after each run, outside its timed window.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads  # noqa: E402
CACHE = os.path.join(HERE, ".cache")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TS = re.compile(r"^(\d{4}-\d{2}-\d{2})[ T](\d{2}):(\d{2})(?::(\d{2})(?:\.(\d{1,9}))?)?$")


def load_sql(name):
    with open(os.path.join(HERE, "sql", name)) as f:
        return json.load(f)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2; SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def norm(v):
    """A cell in comparable form: timestamps as one string shape, exact
    numerics as floats, structs as positional lists."""
    if v is None or isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        if v in ("NaN", "Infinity", "-Infinity"):
            return float(v.replace("Infinity", "inf"))
        m = TS.match(v)
        if m:
            frac = (m.group(5) or "").ljust(6, "0")[:6]
            return f"{m.group(1)} {m.group(2)}:{m.group(3)}:{m.group(4) or '00'}.{frac}"
        return v
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    return str(v)


def query(con, sql):
    return [[norm(c) for c in r] for r in con.execute(sql).fetchall()]


def _eq(a, b):
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) \
            and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(actual, expected):
    """Row lists equal in order. Every text the benchmark sends orders its
    rows completely, so no comparison falls back to a multiset."""
    actual = [[norm(c) for c in r] for r in actual]
    return len(actual) == len(expected) and all(_eq(a, e) for a, e in zip(actual, expected))


def _sql_key():
    h = hashlib.sha256()
    for name in ("battery.json", "pipeline.json"):
        with open(os.path.join(HERE, "sql", name), "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(json.dumps(workloads.DASHBOARD).encode())
    return h.hexdigest()[:16]


def fixed_expectations(data_dir, data_key, rebuild=False):
    """{name: rows} for every dashboard and pipeline text, from the cache."""
    path = os.path.join(CACHE, f"oracle-{data_key}-{_sql_key()}.json")
    if os.path.exists(path) and not rebuild:
        with open(path) as f:
            return json.load(f)
    con = connect(data_dir)
    battery = load_sql("battery.json")
    out = {k: query(con, battery[k]["duckdb"]) for dash in workloads.DASHBOARD for k in dash}
    out.update({k: query(con, v) for k, v in load_sql("pipeline.json").items()})
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


if __name__ == "__main__":
    if sys.argv[1:] != ["--rebuild"]:
        raise SystemExit("usage: python3 perfbench/oracle.py --rebuild")
    import datagen  # noqa: E402
    d, key = datagen.ensure()
    fixed_expectations(d, key, rebuild=True)
    print("oracle cache rebuilt for", d)
