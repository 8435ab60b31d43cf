"""Correctness checks for one run, made after the JVM has exited.

Registry results are compared with the operation's oracle SQL in DuckDB
over the same parquet tables, the way `tools/oracle_check.py` does it:
columns sorted by name, dtype kinds equal, rows in order, values exactly
equal. The steel EDA/SQL results are compared with DuckDB aggregates over
the generated CSV.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect_tables(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _read(con, dump_dir, name):
    return con.sql(f"SELECT * FROM '{os.path.join(dump_dir, name)}/*.parquet'").df()


def _same_float(a, b):
    if math.isnan(a) and math.isnan(b):
        return True
    # -0.0 == 0.0, but the oracle hashes the repr
    return a == b and repr(a) == repr(b)


def _compare_exact(got, exp):
    """None if equal, else the first difference."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if gk != ek and not ({gk, ek} <= {"i", "u"}):
            return f"dtype kind of {c}: {got[c].dtype} != {exp[c].dtype}"
    if len(got) != len(exp):
        return f"rowcount {len(got)} != {len(exp)}"
    for i, (g, e) in enumerate(zip(got.values.tolist(), exp.values.tolist())):
        for c, a, b in zip(got.columns, g, e):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if not _same_float(a, b):
                    return f"row {i} col {c}: {a!r} != {b!r}"
            elif a != b:
                return f"row {i} col {c}: {a!r} != {b!r}"
    return None


def registry(data_dir, dump_dir, names):
    """{op: message} for every operation whose dumped result is wrong."""
    con = _connect_tables(data_dir)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    wrong = {}
    for name in names:
        if name not in oracle:
            wrong[name] = "no oracle SQL for this operation"
            continue
        try:
            diff = _compare_exact(_read(con, dump_dir, name), con.sql(oracle[name]).df())
        except Exception as e:  # a missing dump or an oracle error is a failure too
            diff = f"{type(e).__name__}: {e}"
        if diff:
            wrong[name] = diff[:400]
    return wrong


def _close(a, b, rel=1e-9, abs_=0.0):
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


def steel(csv_path, dump_dir):
    """{result: message} for every steel EDA/SQL result that disagrees with DuckDB."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW steel AS SELECT * FROM read_csv('{csv_path}', header=true)")

    def rows(sql):
        return con.sql(sql).fetchall()

    def got(name):
        return [tuple(r) for r in _read(con, dump_dir, name).itertuples(index=False)]

    def by_key(pairs):
        return {k: v for k, v in pairs}

    def keyed_close(name, sql, parse=float, abs_=0.0):
        g, e = by_key(got(name)), by_key(rows(sql))
        if set(g) != set(e):
            return f"keys {sorted(g)} != {sorted(e)}"
        for k in e:
            if not _close(parse(g[k]), float(e[k]), abs_=abs_):
                return f"{k}: {g[k]!r} != {e[k]!r}"
        return None

    def _corr():
        (g,), = got("eda_corr_co2_usage")
        (e,), = rows("SELECT corr(\"CO2(tCO2)\", Usage_kWh) FROM steel")
        return None if _close(g, e) else f"{g!r} != {e!r}"

    def _histogram():
        # Spark's width_bucket: long(10 * (v - lo) / (hi - lo)) + 1, capped at 10
        e = rows("""
            WITH mm AS (SELECT min(Usage_kWh) lo,
                CASE WHEN max(Usage_kWh) = min(Usage_kWh) THEN max(Usage_kWh) + 1
                     ELSE max(Usage_kWh) END hi FROM steel),
            b AS (SELECT least(CASE WHEN Usage_kWh >= hi THEN 11
                     ELSE CAST(trunc(10.0 * (Usage_kWh - lo) / (hi - lo)) AS BIGINT) + 1 END, 10) bin,
                  lo, (hi - lo) / 10 step FROM steel, mm)
            SELECT bin, any_value(lo + (bin - 1) * step), any_value(step), count(*)
            FROM b GROUP BY bin ORDER BY bin""")
        g = sorted(got("sql_histogram_usage"))
        if len(g) != len(e):
            return f"{len(g)} bins != {len(e)}"
        for gr, er in zip(g, e):
            if int(gr[0]) != er[0] or int(gr[3]) != er[3] or not _close(gr[1], er[1]) \
                    or not _close(gr[2], er[2]):
                return f"bin {gr!r} != {er!r}"
        return None

    checks = {
        "eda_count_by_load_type": lambda: keyed_close(
            "eda_count_by_load_type",
            "SELECT Load_Type, count(*) FROM steel GROUP BY 1", parse=int),
        # format_number(avg, 2): compare the rounded text within half a cent
        "eda_avg_usage_by_day": lambda: keyed_close(
            "eda_avg_usage_by_day",
            "SELECT Day_of_week, avg(Usage_kWh) FROM steel GROUP BY 1",
            parse=lambda s: float(s.replace(",", "")), abs_=0.0051),
        "eda_corr_co2_usage": _corr,
        "sql_sum_usage_by_load_type": lambda: keyed_close(
            "sql_sum_usage_by_load_type",
            "SELECT Load_Type, sum(Usage_kWh) FROM steel GROUP BY 1"),
        "sql_histogram_usage": _histogram,
    }

    wrong = {}
    for name in checks:
        try:
            diff = checks[name]()
        except Exception as ex:
            diff = f"{type(ex).__name__}: {ex}"
        if diff:
            wrong[name] = diff[:400]
    return wrong
