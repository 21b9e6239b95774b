"""Local mirror of the driver's correctness gate.

The driver's gate: every query that ``__spark_entry__.queries()`` declares
must match its DuckDB ``oracle_sql()`` at sf0.01 on three counts — row
count, schema (column names sorted, since the driver sorts columns by
name before hashing), and an ORDER-INSENSITIVE value hash: rows are
hashed as a multiset, so neither engine's output order matters, but every
value must be bit-identical after the catalog's own rounding conventions
(see the determinism conventions in ``catalog.py``). Separately,
``entry(spark)`` must return rows at sf0.001. The reference scripts
publish no benchmark numbers, so these driver gates are the baseline.

This harness runs a catalog query on Spark and its oracle SQL on DuckDB
over the same parquet tables, then compares row count, sorted column
names, and values after sorting both sides by every column (the same
multiset equality the hash checks). Stricter than necessary is fine;
looser is not — the driver hashes values, so we demand exact equality.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from tcga_query_project_spark.schemas import TESTDATA_TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    # stable row order for comparison: sort by every column
    out = out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )
    return out


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s = canonicalize(spark_pdf)
    o = canonicalize(oracle_pdf)
    if len(s) != len(o):
        return problems
    for col in s.columns:
        sv, ov = s[col], o[col]
        for i, (a, b) in enumerate(zip(sv, ov)):
            a_null = a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NA
            b_null = b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NA
            if a_null and b_null:
                continue
            if a_null != b_null:
                problems.append(f"{col}[{i}]: null mismatch spark={a} oracle={b}")
                break
            if isinstance(a, float) or isinstance(b, float):
                if float(a) != float(b):
                    problems.append(f"{col}[{i}]: {a!r} != {b!r}")
                    break
            elif str(a) != str(b):
                problems.append(f"{col}[{i}]: {a!r} != {b!r}")
                break
    return problems
