"""Result check against DuckDB running the engine's oracle SQL.

The canonical form follows the repository's oracle gate: columns in name
order, one string per row, rows sorted, floats printed at 17 significant
digits (round-trip exact for float64), NULL for missing values; the
digest is the MD5 of the joined rows. DuckDB's side depends only on the
SQL text, the fixture files (named by their checksum list) and the
DuckDB version, so it is cached in the work directory under a key made
of those three.
"""
import glob
import hashlib
import json
import os
import time

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        cells = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(format(v, ".17g"))
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def summary(df):
    """What the comparison needs from one side's result frame."""
    return {
        "columns": sorted(df.columns),
        "int_columns": sorted(c for c in df.columns
                              if pd.api.types.is_integer_dtype(df[c].dtype)),
        "numeric_columns": sorted(c for c in df.columns
                                  if pd.api.types.is_numeric_dtype(df[c].dtype)),
        "rows": len(df),
        "md5": canon(df),
    }


def compare(spark, duck):
    """None when the two summaries agree, else the reason they differ."""
    if spark["columns"] != duck["columns"]:
        return f"columns: spark={spark['columns']} duckdb={duck['columns']}"
    both_numeric = set(spark["numeric_columns"]) & set(duck["numeric_columns"])
    skew = sorted(c for c in both_numeric
                  if (c in spark["int_columns"]) != (c in duck["int_columns"]))
    if skew:
        return f"int/float type skew in {skew}"
    if spark["rows"] != duck["rows"]:
        return f"rows: spark={spark['rows']} duckdb={duck['rows']}"
    if spark["md5"] != duck["md5"]:
        return "digest mismatch"
    return None


def check(dump_dir, data_dir, cache_path):
    """Compare every dumped query that has oracle SQL. Returns
    ({query: reason or None}, seconds spent in DuckDB)."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(data_dir, "SHA256SUMS"), "rb") as f:
        data_key = hashlib.sha256(f.read()).hexdigest()
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con, duck_s, out = None, 0.0, {}
    for name, sql in sorted(oracles.items()):
        qdir = os.path.join(dump_dir, name)
        parts = glob.glob(os.path.join(qdir, "*.parquet"))
        if not parts:
            out[name] = "no Spark output"
            continue
        spark = summary(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
        key = hashlib.sha256((sql + data_key + duckdb.__version__)
                             .encode()).hexdigest()
        if key not in cache:
            t0 = time.monotonic()
            if con is None:
                con = duckdb.connect()
                for p in glob.glob(os.path.join(data_dir, "*.parquet")):
                    table = os.path.basename(p)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
            try:
                cache[key] = summary(con.execute(sql).df())
            except Exception as e:  # noqa: BLE001 - any DuckDB error fails the query
                out[name] = f"duckdb: {e}"
                continue
            finally:
                duck_s += time.monotonic() - t0
        out[name] = compare(spark, cache[key])
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return out, duck_s
