"""Order-insensitive result comparison against the DuckDB oracle twins.

Same rule as the repository's oracle gate: equal column names, equal row
count, and equal values after canonical sorting. Floats compare exactly
(the query contract is bit-reproducible across engines), NaN equals NaN,
and an integer column never matches a float column.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd


def oracle_conn(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: v if isinstance(v, float) and math.isnan(v)
                else v if isinstance(v, (int, float)) else str(v)
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a_all, b_all = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a_all.columns:
        a, b = a_all[c], b_all[c]
        a_flt, b_flt = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        a_int, b_int = pd.api.types.is_integer_dtype(a), pd.api.types.is_integer_dtype(b)
        if (a_int and b_flt) or (a_flt and b_int):
            return f"column {c}: dtype {a.dtype} vs {b.dtype}"
        if a_flt or b_flt:
            af, bf = a.astype(float), b.astype(float)
            eq = (af == bf) | (af.isna() & bf.isna())
        else:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} rows differ"
    return None

