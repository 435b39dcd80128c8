"""Every registered oracle must be exact-hash-safe at the type level.

The external driver compares Spark and DuckDB results with an EXACT
value hash after a pandas round trip. DuckDB's SUM over integer inputs
returns HUGEINT (and some expressions return DECIMAL); pandas has no
128-bit integer, so those columns arrive as float64 while Spark emits
bigint — every value matches numerically, yet ``6.0`` hashes differently
from ``6``. The entire round-2 red set (csv/json/orc roundtrips, pivot,
corrupt-json policy) was this one class. This test types every oracle in
DuckDB without executing it (LIMIT-0 semantics: ``con.sql`` only binds)
and fails on any HUGEINT/DECIMAL output column, so the class is caught
locally before a driver round ever samples it.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_utils import assert_matches_oracle, duckdb_con, wide_columns

SF_DIR = "/root/testdata/sf0.01"


def _all_oracles():
    import __spark_entry__ as e

    return e.oracle_sql()


def test_no_hugeint_or_decimal_oracle_columns():
    oracles = _all_oracles()
    assert len(oracles) >= 100  # registry shrank unexpectedly?
    con = duckdb_con(SF_DIR)
    offenders = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
        except Exception as ex:  # binder failure is its own bug
            offenders.append((name, f"does not bind: {str(ex)[:120]}"))
            continue
        for c, ts in wide_columns(rel):
            offenders.append((name, f"{c}: {ts} (cast ::BIGINT)"))
    assert not offenders, offenders


class _FakeSparkDF:
    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def test_dtype_mismatch_fails_locally():
    """The local comparator must reject int-vs-float dtype drift even
    when values agree — the exact failure mode the tolerance branch used
    to swallow."""
    import pandas as pd

    # Spark-side bigint vs an oracle whose SUM(...) is deliberately left
    # un-cast (HUGEINT → float64 in pandas). Values are identical.
    fake = _FakeSparkDF(pd.DataFrame({"s": pd.array([3], dtype="int64")}))
    with pytest.raises(AssertionError, match="dtype mismatch"):
        assert_matches_oracle(
            fake, "SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)", SF_DIR
        )


def test_wide_oracle_column_fails_even_when_spark_matches_its_float():
    """A HUGEINT oracle column fails even against a float64 Spark
    column with equal values: no dtype drift shows in pandas, but the
    driver hashes the oracle's un-cast type."""
    import pandas as pd

    fake = _FakeSparkDF(pd.DataFrame({"s": [3.0]}))
    with pytest.raises(AssertionError, match="HUGEINT"):
        assert_matches_oracle(
            fake, "SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)", SF_DIR
        )


def test_non_float_columns_compare_value_and_string_form():
    """``True == 1`` in Python, ``"1" == 1`` as strings; the comparator
    rejects both, and accepts a string column that equals the oracle's."""
    import pandas as pd

    with pytest.raises(AssertionError, match="value mismatch"):
        assert_matches_oracle(
            _FakeSparkDF(pd.DataFrame({"b": [True]})),
            "SELECT 1 AS b",
            SF_DIR,
        )
    with pytest.raises(AssertionError, match="value mismatch"):
        assert_matches_oracle(
            _FakeSparkDF(pd.DataFrame({"b": ["1"]})), "SELECT 1 AS b", SF_DIR
        )
    assert_matches_oracle(
        _FakeSparkDF(pd.DataFrame({"b": ["x", "y"]})),
        "SELECT * FROM (VALUES ('y'), ('x')) t(b)",
        SF_DIR,
    )


def test_float_tolerance_is_relative_with_unit_floor():
    """|spark - oracle| <= tol * max(1, |oracle|): at 1e-9 a 2e-9 miss
    on 1.0 fails (``np.allclose``'s default atol 1e-8 accepted it)."""
    import pandas as pd

    sql = "SELECT 1.0::DOUBLE AS f"
    assert_matches_oracle(
        _FakeSparkDF(pd.DataFrame({"f": [1.0 + 5e-10]})), sql, SF_DIR, float_tol=1e-9
    )
    with pytest.raises(AssertionError, match="value mismatch"):
        assert_matches_oracle(
            _FakeSparkDF(pd.DataFrame({"f": [1.0 + 2e-9]})), sql, SF_DIR, float_tol=1e-9
        )
