"""The query_mix output check: each query's result against DuckDB.

``expected`` runs each query's oracle SQL (``graft.SparkEntry.oracleSql``)
over the generated tables; ``compare`` reads what the engine wrote and
compares the two in canonical form: columns sorted by name, rows sorted
by value, integers and strings exact, floats within ``FLOAT_TOL``.
"""
import glob

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FLOAT_TOL = 1e-9


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def expected(data_dir, sql_by_query):
    """{query: canonical frame, or the error text if the SQL failed}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for q, sql in sql_by_query.items():
        try:
            out[q] = canon(con.execute(sql).df())
        except Exception as e:  # reported as a failed check
            out[q] = f"oracle SQL failed: {e}"
    con.close()
    return out


def _diff(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            ga, wa = g.astype(float).values, w.astype(float).values
            bad = ~np.isclose(ga, wa, rtol=FLOAT_TOL, atol=FLOAT_TOL, equal_nan=True)
            if bad.any():
                return f"{c}: {int(bad.sum())} cells differ beyond {FLOAT_TOL}"
        elif not g.astype(str).equals(w.astype(str)):
            return f"{c}: values differ"
    return None


def compare(results_dir, expected_by_query):
    """One check per query: the engine's written result equals the oracle's."""
    con = duckdb.connect()
    checks = []
    for q, want in sorted(expected_by_query.items()):
        files = glob.glob(f"{results_dir}/{q}/*.parquet")
        if isinstance(want, str):
            detail = want
        elif not files:
            detail = "no result written"
        else:
            try:
                got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
                detail = _diff(got, want)
            except Exception as e:
                detail = f"reading the result failed: {e}"
        checks.append({"name": f"oracle.{q}", "ok": detail is None,
                       "detail": detail or f"{len(want)} rows"})
    con.close()
    return checks
