"""DuckDB comparison of the `queries` outputs with SparkEntry.oracleSql.

Same rules as tools/check_oracle.py: columns compared by sorted name,
row counts equal, then values row by row in output order, NaN equal to
NaN.
"""
import json
import math

import duckdb

NO_OUTPUT = "no output"


def compare(tables_dir, tables, out_dir):
    """Returns {query name: None if equal, else a one-line reason}."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    result = {}
    for name, sql in sorted(oracle.items()):
        try:
            if not list((out_dir / name).glob("*.parquet")):
                result[name] = NO_OUTPUT
                continue
            sdf = con.execute(f"SELECT * FROM read_parquet("
                              f"'{out_dir}/{name}/*.parquet')").fetchdf()
            ddf = con.execute(sql).fetchdf()
            result[name] = _diff(sdf, ddf)
        except Exception as e:  # a query the oracle cannot run is a mismatch
            result[name] = f"error: {str(e)[:160]}"
    return result


def _diff(sdf, ddf):
    sdf = sdf[sorted(sdf.columns)]
    ddf = ddf[sorted(ddf.columns)]
    if list(sdf.columns) != list(ddf.columns):
        return f"columns {list(sdf.columns)} vs {list(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"{len(sdf)} rows vs {len(ddf)}"
    for c in sdf.columns:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
            eq = x == y
            if not eq and isinstance(x, float) and isinstance(y, float):
                eq = math.isnan(x) and math.isnan(y)
            if not eq:
                return f"col {c} row {i}: spark={x!r} duckdb={y!r}"
    return None
