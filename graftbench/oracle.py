"""Order-free comparison of each query's result with its DuckDB oracle.

The runner writes every result as parquet under `<results>/<query>`;
`SparkEntry.oracleSql` gives the SQL that computes the same rows in
DuckDB over the same input files. Like scripts/check.py, columns are
matched by name and rows compared as multisets (exact values).
Expected rows are cached beside the inputs, keyed by the SQL text, so a
seed's oracle runs once.
"""
import glob
import hashlib
import os

import duckdb


def check(data, results, oracle_sql, run_errors, tmp):
    """Return {query: reason} for every query whose result is missing,
    errored, or differs from the oracle. DuckDB spills under `tmp`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '3GB'")
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    for q, sql in oracle_sql.items():
        if q in run_errors:
            bad[q] = f"cold-pass write failed: {run_errors[q]}"
            continue
        if sql is None:
            bad[q] = "no oracleSql entry"
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                        f"'{os.path.join(results, q)}/*.parquet'")
            key = hashlib.sha256(sql.encode()).hexdigest()[:16]
            hit = os.path.join(cache, f"{q}-{key}.parquet")
            if not os.path.exists(hit):
                con.execute(f"COPY ({sql}) TO '{hit}.tmp' (FORMAT parquet)")
                os.rename(f"{hit}.tmp", hit)
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS SELECT * FROM '{hit}'")
            gc = sorted(c[0] for c in con.execute("DESCRIBE got").fetchall())
            ec = sorted(c[0] for c in con.execute("DESCRIBE exp").fetchall())
            if gc != ec:
                bad[q] = f"columns {gc} vs {ec}"
                continue
            cols = ", ".join(f'"{c}"' for c in gc)
            ng, ne = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                      for t in ("got", "exp"))
            if ng != ne:
                bad[q] = f"rows {ng} vs {ne}"
                continue
            extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                                f"EXCEPT ALL SELECT {cols} FROM exp)").fetchone()[0]
            if extra:
                bad[q] = f"{extra} of {ng} rows differ"
        except Exception as e:  # an oracle or read error is a failed check
            bad[q] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return bad
