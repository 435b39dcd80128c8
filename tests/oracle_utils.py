"""Local replica of the driver's Spark-vs-DuckDB comparison: row count,
column names, and order-insensitive values (columns sorted by name,
rows sorted by all columns, floats compared with tolerance). The
pytest gates and ``scripts/verify_sweep.py`` share this one
comparator."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from web_analytics_visits_re_processing_spark.sources.tables import TABLE_NAMES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views over the fixture tables. DuckDB binds views eagerly, so a
    table absent from ``sf_dir`` is skipped (custom test fixtures carry
    only the tables their oracle reads); Spark-written directory
    parquet gets a glob instead of the single-file path."""
    import os

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def wide_columns(rel: duckdb.DuckDBPyRelation) -> list[tuple[str, str]]:
    """Oracle output columns typed HUGEINT or DECIMAL. pandas has no
    128-bit integer, so these land as float64 while Spark returns
    bigint: a tolerance compare passes, the driver's exact hash does
    not (``6.0`` vs ``6`` — the entire round-2 red set). Checked on the
    DuckDB types, before pandas erases the distinction; the fix is an
    explicit ``::BIGINT`` cast in the oracle."""
    return [
        (c, str(t).upper())
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
    ]


def assert_matches_oracle(
    spark_df, sql: str, sf_dir: str, float_tol: float = 1e-6
) -> int:
    """Raise ``AssertionError`` unless ``spark_df`` equals the DuckDB
    result of ``sql`` over ``sf_dir``; return the row count compared."""
    con = duckdb_con(sf_dir)  # a relation does not keep its connection open
    rel = con.sql(sql)
    oracle = rel.df()
    mine = spark_df.toPandas()

    assert sorted(mine.columns) == sorted(oracle.columns), (
        f"column mismatch: spark={sorted(mine.columns)} oracle={sorted(oracle.columns)}"
    )
    assert len(mine) == len(oracle), f"row count: spark={len(mine)} oracle={len(oracle)}"

    a, b = _normalize(mine), _normalize(oracle)
    for c in a.columns:
        av, bv = a[c], b[c]
        a_num = pd.api.types.is_integer_dtype(av) or pd.api.types.is_float_dtype(av)
        b_num = pd.api.types.is_integer_dtype(bv) or pd.api.types.is_float_dtype(bv)
        if a_num and b_num:
            # The driver hashes exactly, so int-vs-float dtype drift
            # (Spark bigint vs a DuckDB HUGEINT that pandas renders as
            # float64) must FAIL here even though every value matches
            # numerically — tolerance comparison is only for float-vs-
            # float columns.
            assert pd.api.types.is_float_dtype(av) == pd.api.types.is_float_dtype(
                bv
            ), f"dtype mismatch in column {c!r}: spark={av.dtype} oracle={bv.dtype}"
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce")
            bv = pd.to_numeric(bv, errors="coerce")
            bad = [
                i
                for i, (x, y) in enumerate(zip(av, bv))
                if not (
                    (isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y))
                    or abs(float(x) - float(y)) <= float_tol * max(1.0, abs(float(y)))
                )
            ]
        else:
            # both the value and its string form must agree: ``!=``
            # alone accepts True == 1, the string form alone "1" == 1
            bad = [
                i
                for i, (x, y) in enumerate(zip(av, bv))
                if x != y or str(x) != str(y)
            ]
        assert not bad, (
            f"value mismatch in column {c!r} at sorted rows {bad[:5]}: "
            f"spark={[av[i] for i in bad[:5]]} oracle={[bv[i] for i in bad[:5]]}"
        )
    wide = wide_columns(rel)
    assert not wide, f"oracle emits HUGEINT/DECIMAL (cast ::BIGINT): {wide}"
    return len(mine)
