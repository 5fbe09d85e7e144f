"""Output checks, run after the timed region.

Board queries with a DuckDB oracle must match it cell for cell on the
benchmark's own inputs (the canonical form of `tools/selfcheck.py`:
columns sorted by name, rows by every column, exact cell equality).
Queries without an oracle must return the same rows, by count and
content hash, on a second check pass after the timed region, and at
least one row. A medallion
run must enrich every generated row that has coordinates, upsert one
document per distinct `icao24`, and take the K-means phase path.
"""
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def _plain(v):
    """A JSON-able, order-stable rendering of one cell. Floats keep 10
    significant digits so a different summation order is not a change."""
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(f"{float(v):.10g}")
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if v is None or v is pd.NaT:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v if isinstance(v, (str, int, bool)) else str(v)


def content_hash(df):
    rows = sorted(json.dumps([_plain(v) for v in r], default=str)
                  for r in df[sorted(df.columns)].itertuples(index=False, name=None))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _oracle_diff(con, sql, got):
    exp = canon(con.sql(sql).df())
    got = canon(got)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs oracle {len(exp)}"
    ga, ea = got.to_numpy(), exp.to_numpy()
    for i in range(len(got)):
        for j in range(len(got.columns)):
            if not cells_equal(ga[i][j], ea[i][j]):
                return f"row {i} col {got.columns[j]}: got {ga[i][j]!r} oracle {ea[i][j]!r}"
    return None


def check_board(result, inputs, work):
    c = result["checks"]
    oracle = result.get("oracle_sql", {})
    queries = sorted({o["op"] for o in result["ops"]} | set(c["errors_a"]) | set(c["errors_b"]))
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(work, 'tmp', 'duckdb')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs['data_dir']}/{t}.parquet'")
    failures, per_query = {}, {}
    for q in queries:
        err = c["errors_a"].get(q) or c["errors_b"].get(q)
        if err:
            failures[q] = f"check pass raised {err}"
            continue
        try:
            a = pd.read_parquet(os.path.join(c["dir_a"], q))
            if q in oracle:
                diff = _oracle_diff(con, oracle[q], a)
                mode = "oracle"
            else:
                b = pd.read_parquet(os.path.join(c["dir_b"], q))
                ha, hb = content_hash(a), content_hash(b)
                diff = (None if ha == hb and ha[0] > 0 else
                        f"passes differ or empty: rows/hash {ha} vs {hb}")
                mode = "repeat_hash"
        except Exception as e:  # an unreadable output is a failed check
            diff, mode = f"{type(e).__name__}: {str(e)[:300]}", "error"
        per_query[q] = {"mode": mode, "rows": int(len(a)) if mode != "error" else None}
        if diff:
            failures[q] = diff
    return failures, per_query


def check_medallion(result):
    failures, per_run = {}, {}
    for r in result["checks"]["runs"]:
        op = f"minute_{r['minute']}"
        problems = []
        if r.get("error"):
            problems.append(f"run raised {r['error']}")
        elif r.get("check_error"):
            problems.append(f"check raised {r['check_error']}")
        else:
            if r["enriched_rows"] != r["expected_rows"]:
                problems.append(f"enriched {r['enriched_rows']} != generated {r['expected_rows']}")
            if r["reported_rows"] >= 0 and r["reported_rows"] != r["expected_rows"]:
                problems.append(f"reported {r['reported_rows']} != generated {r['expected_rows']}")
            if not (r["docs"] == r["distinct_docs"] == r["expected_docs"]):
                problems.append(f"docs {r['docs']} (distinct {r['distinct_docs']}) "
                                f"!= distinct icao24 {r['expected_docs']}")
            if r["off_rule_rows"] <= 0:
                problems.append("phase labels all follow the fallback rules: K-means path not taken")
        per_run[op] = {"pass": r["pass"], "kmeans": r.get("off_rule_rows", 0) > 0,
                       "enriched_rows": r.get("enriched_rows"), "docs": r.get("docs")}
        if problems:
            failures[op] = "; ".join(problems)
    return failures, per_run


def check(kind, result, inputs, work):
    if kind == "board":
        failures, items = check_board(result, inputs, work)
    else:
        failures, items = check_medallion(result)
    return {"ok": not failures, "failures": failures, "items": items}
