"""Output gates. Each checks the program's outputs against an independent
computation (DuckDB over the same parquet files, or the key counts the
generator emitted) and returns human-readable failure strings; an empty
list means the outputs are correct. None of this runs inside a timed
region.
"""
import collections
import csv
import datetime
import glob
import io
import json
import os

import duckdb

FLU_TABLES = ["county_region", "temporal", "illness", "healthcare", "historics"]


def _connect_flu(table_dir):
    con = duckdb.connect()
    for t in FLU_TABLES:
        files = os.path.join(table_dir, t, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    return con


# ------------------------------------------------------------------ ETL

def etl_pass(record, expected):
    """One DAG pass: every PK/FK violation count is 0 and every table has
    the row count the generator's keys imply."""
    bad = [f"{record['dir']}: {k} = {v}"
           for k, v in sorted(record["violations"].items()) if v != 0]
    for t, n in row_counts(record["dir"]).items():
        if n != expected[t]:
            bad.append(f"{record['dir']}: {t} has {n} rows, expected {expected[t]}")
    return bad


def row_counts(table_dir):
    con = _connect_flu(table_dir)
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in FLU_TABLES}


def golden(mismatches):
    return [f"golden parity: {t} has {n} mismatching rows"
            for t, n in sorted(mismatches.items()) if n != 0]


# ---------------------------------------------------------------- serve

def _fmt_close(cell, value, decimals, suffix=""):
    """A value the API formatted with `decimals` places (and `suffix`)
    matches `value` up to the formatting's rounding."""
    if value is None:
        return cell == "null"
    if not isinstance(cell, str) or not cell.endswith(suffix):
        return False
    try:
        x = float(cell[:len(cell) - len(suffix)] if suffix else cell)
    except ValueError:
        return False
    return abs(x - value) <= 0.5 * 10 ** -decimals + 1e-9 * max(1.0, abs(value))


def _http_date(d):
    return d.strftime("%a, %d %b %Y 00:00:00 GMT")


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _check_weekly(con, sql, body):
    data = json.loads(body)["data"]
    want = _rows(con, sql)
    if len(data) != len(want):
        return f"{len(data)} rows, DuckDB has {len(want)}"
    for i, (got, w) in enumerate(zip(data, want)):
        ok = (got["week_end"] == _http_date(w["week_end"])
              and got["epiweek_id"] == w["epiweek_id"]
              and got["respiratory_illness_type"] == w["respiratory_illness_type"]
              and got["counties_reporting"] == w["counties_reporting"]
              and _fmt_close(got["avg_percent_positive"], w["avg_percent_positive"], 2, "%"))
        if not ok:
            return f"row {i}: {got} vs {w}"
    return None


def _check_healthcare(con, sql, body):
    doc = json.loads(body)
    data, want = doc["data"], _rows(con, sql)
    if len(data) != len(want):
        return f"{len(data)} rows, DuckDB has {len(want)}"
    for i, (got, w) in enumerate(zip(data, want)):
        ok = (got["ach_region"] == w["ach_region"]
              and got["counties_in_region"] == w["counties_in_region"]
              and _fmt_close(got["avg_population_density"], w["avg_population_density"], 1)
              and _fmt_close(got["avg_hospitalization_percent"],
                             w["avg_hospitalization_percent"], 2, "%")
              and _fmt_close(got["avg_er_visit_percent"], w["avg_er_visit_percent"], 2, "%")
              and _fmt_close(got["avg_hospital_to_er_ratio"],
                             w["avg_hospital_to_er_ratio"], 3))
        if not ok:
            return f"row {i}: {got} vs {w}"
    total = sum(w["counties_in_region"] for w in want)
    if doc["summary"] != {"ACH Regions": len(want), "Total Counties": total}:
        return f"summary {doc['summary']}"
    return None


def _check_historical(con, sql, body):
    doc = json.loads(body)
    data, want = doc["data"], _rows(con, sql)
    if len(data) != len(want):
        return f"{len(data)} rows, DuckDB has {len(want)}"
    for i, (got, w) in enumerate(zip(data, want)):
        ok = (got["year"] == w["year"] and got["decade_year"] == w["decade_year"]
              and got["peak_week_id"] == w["peak_week_id"]
              and all(_fmt_close(got[c], w[c], 2, "%") for c in
                      ("peak_ili_percent", "average_wili_percent", "peak_vs_avg_diff")))
        if not ok:
            return f"row {i}: {got} vs {w}"
    if doc["summary"].get("Years Tracked") != len(want):
        return f"summary {doc['summary']}"
    return None


def _canon(value, dtype):
    if value is None:
        return ""
    if dtype == "DOUBLE":
        return float(value)
    if isinstance(value, datetime.date):
        return value.isoformat()
    return str(value)


def _check_export(con, table, body):
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    names, types = [c[0] for c in cols], [c[1] for c in cols]
    rows = list(csv.reader(io.StringIO(body.decode("utf-8"), newline="")))
    if not rows or rows[0] != names:
        return f"header {rows[:1]} vs {names}"
    total = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    data = rows[1:]
    if len(data) != min(1000, total):
        return f"{len(data)} rows exported of {total}"
    have = collections.Counter(
        tuple(_canon(v, t) for v, t in zip(r, types))
        for r in con.execute(f"SELECT * FROM {table}").fetchall())
    for i, r in enumerate(data):
        key = tuple("" if v == "" else (float(v) if t == "DOUBLE" else v)
                    for v, t in zip(r, types))
        if have[key] <= 0:
            return f"exported row {i} {r} is not in {table}"
        have[key] -= 1
    return None


def serve(table_dir, sqls, bodies):
    """Check each distinct response body. `bodies` maps path -> {digest:
    body}; returns (failures, set of (path, digest) that failed)."""
    con = _connect_flu(table_dir)
    failed, notes = set(), []
    for path, by_digest in sorted(bodies.items()):
        for digest, body in by_digest.items():
            try:
                err = _check_body(con, sqls, path, body)
            except (ValueError, KeyError, TypeError) as e:
                err = f"unreadable body: {e!r}"
            if err:
                failed.add((path, digest))
                notes.append(f"{path}: {err}")
    return notes, failed


def _check_body(con, sqls, path, body):
    if path == "/viewer":
        return None if b"/api/reports/" in body else "viewer page lacks report links"
    if path == "/health":
        return None if json.loads(body).get("status") == "healthy" else body[:200]
    if path == "/api/reports/weekly-trends":
        return _check_weekly(con, sqls["weekly"], body)
    if path == "/api/reports/healthcare-impact":
        return _check_healthcare(con, sqls["healthcare"], body)
    if path == "/api/reports/historical-summary":
        return _check_historical(con, sqls["historical"], body)
    if path.startswith("/api/export/csv?table="):
        return _check_export(con, path.split("=", 1)[1], body)
    return "unexpected path"


# ---------------------------------------------------------------- loops

def _read_jsonl(path):
    with open(path, encoding="utf-8") as f:
        lines = [json.loads(line) for line in f if line.strip()]
    return lines[0], [tuple(r) for r in lines[1:]]


def loops(table_dir, results_dir, oracle_sql):
    """Each query's last result equals its oracle SQL run in DuckDB over
    the same parquet tables, row for row and in order."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for q, sql in sorted(oracle_sql.items()):
        cols, got = _read_jsonl(os.path.join(results_dir, f"{q}.jsonl"))
        cur = con.execute(sql)
        dcols = [c[0] for c in cur.description]
        if sorted(dcols) != sorted(cols):
            bad[q] = f"columns {cols} vs DuckDB {dcols}"
            continue
        idx = [dcols.index(c) for c in cols]
        want = [tuple(r[i] for i in idx) for r in cur.fetchall()]
        if len(want) != len(got):
            bad[q] = f"{len(got)} rows, DuckDB has {len(want)}"
            continue
        for i, (g, w) in enumerate(zip(got, want)):
            if g != w or any(type(a) is not type(b) for a, b in zip(g, w)):
                bad[q] = f"row {i}: {g} vs DuckDB {w}"
                break
    return bad
