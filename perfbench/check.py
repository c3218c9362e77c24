"""Untimed correctness checks, computed independently of Spark in DuckDB.

* Lake tables: the expected state of each table is recomputed from the
  landed files (LOAD rows, then CDC rows latest-wins by (file name,
  row-in-file), deletes dropped; keyless tables keep every insert) and
  compared with the lake read through its catalog name by an
  order-independent hash of the rows.
* Queries: a Spark result is compared with its DuckDB oracle SQL as a
  sorted multiset of normalized rows.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def expected_state(
    load_files: list[str], cdc_files: list[str], columns: list[str], primary_keys: list[str]
) -> pa.Table:
    """The table a correct controller leaves after applying ``cdc_files``
    (lexically ordered DMS files, ``Op`` first column) on top of the full
    load in ``load_files``."""
    con = duckdb.connect()
    cols = ", ".join(f'"{c}"' for c in columns)
    base = f"SELECT {cols} FROM read_parquet({_sql_list(load_files)})"
    if not cdc_files:
        return con.sql(base).arrow()
    changes = (
        f"read_parquet({_sql_list(cdc_files)}, filename=true, file_row_number=true)"
    )
    if not primary_keys:
        return con.sql(f"{base} UNION ALL SELECT {cols} FROM {changes} WHERE Op = 'I'").arrow()
    pk = ", ".join(f'"{k}"' for k in primary_keys)
    join = " AND ".join(f'b."{k}" = c."{k}"' for k in primary_keys)
    sql = f"""
        WITH c AS (SELECT * FROM {changes}),
        latest AS (
            SELECT * FROM c
            QUALIFY row_number() OVER (
                PARTITION BY {pk} ORDER BY filename DESC, file_row_number DESC) = 1
        )
        SELECT {cols} FROM ({base}) b WHERE NOT EXISTS (SELECT 1 FROM c WHERE {join})
        UNION ALL
        SELECT {cols} FROM latest WHERE Op <> 'D'
    """
    return con.sql(sql).arrow()


def _normalized(table: pa.Table, columns: list[str]) -> pd.DataFrame:
    """Columns in a fixed order and engine-neutral types: integers as
    int64, floats as float64, timestamps as naive microseconds."""
    out = {}
    for c in columns:
        col = table.column(c)
        t = col.type
        if pa.types.is_timestamp(t):
            col = pc.cast(col.cast(pa.timestamp("us", t.tz)), pa.int64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t):
            col = col.cast(pa.float64())
        elif pa.types.is_large_string(t):
            col = col.cast(pa.string())
        out[c] = col.to_pandas()
    return pd.DataFrame(out)


def table_digest(table: pa.Table, columns: list[str]) -> tuple[int, int]:
    """(row count, wrapping sum of per-row hashes): equal for two tables
    holding the same multiset of rows, in any order."""
    if table.num_rows == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(_normalized(table, columns), index=False).to_numpy()
    return table.num_rows, int(np.sum(h, dtype=np.uint64))


def lake_matches(lake: pa.Table, expected: pa.Table, columns: list[str]) -> bool:
    return table_digest(lake, columns) == table_digest(expected, columns)


# --------------------------------------------------------------- queries


def run_oracle(sql: str, sf_dir: str, cache_dir: str | None = None) -> pd.DataFrame:
    """The oracle's result. With ``cache_dir`` it is computed once per
    (source directory, SQL text) and kept there: it depends on nothing
    else, and computing all of them costs ~10 s a run."""
    path = None
    if cache_dir:
        key = hashlib.sha256(f"{sf_dir}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    df = con.sql(sql).df()
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    return df


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"  # float noise far below the data's scale
    if isinstance(v, pd.Timestamp):
        v = v.tz_localize(None) if v.tzinfo else v
    return str(v)


def _rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, sorted(tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False))


def result_matches(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    """Same column names and the same multiset of normalized rows."""
    return _rows(spark_pdf) == _rows(oracle_pdf)
