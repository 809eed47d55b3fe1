"""Gate-mimic contract tests (tools/oracle_check.py).

Round-8 driver evidence (CORRECTNESS_r08): the purpose-built
``probe_hash_decimal_precision`` AND all three money queries whose two
sides were exactly DECIMAL(38,0) hash-failed — no decimal output column
has ever gated green.  Mechanism verified locally: DuckDB's pandas
transport converts DECIMAL columns to float64 while Spark's toPandas
ships ``decimal.Decimal`` objects.  These tests pin

1. the mimic's hard rejection of decimal output families (either side),
2. the digit-string rendering agreement the replacement transport
   relies on (scale-0 bare digits, scale>0 padded to scale, ``-`` sign,
   no exponent — on BOTH engines), and
3. the mechanism fact itself, so a future DuckDB that stops folding
   DECIMAL to float64 surfaces here (the discipline could then be
   revisited with fresh driver probes, not assumed).
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from oracle_check import canon_duck, canon_spark, compare  # noqa: E402


def test_mimic_rejects_decimal_output_spark_side(spark):
    con = duckdb.connect()
    df = spark.sql("SELECT cast(1 as decimal(38,0)) AS v")
    errs = compare("t", df, con, "SELECT 1::BIGINT AS v")
    assert any("DECIMAL OUTPUT COLUMN" in e for e in errs), errs


def test_mimic_rejects_decimal_output_duck_side(spark):
    con = duckdb.connect()
    df = spark.sql("SELECT cast(1 as bigint) AS v")
    errs = compare("t", df, con, "SELECT 1::DECIMAL(38,0) AS v")
    assert any("DECIMAL OUTPUT COLUMN" in e for e in errs), errs


def test_mimic_rejects_decimal_even_when_exactly_matched(spark):
    """The r8 lesson verbatim: DECIMAL(38,0) on BOTH sides is still
    forbidden — exact type agreement did not save gini/ltv/pipe."""
    con = duckdb.connect()
    df = spark.sql("SELECT cast(1 as decimal(38,0)) AS v")
    errs = compare("t", df, con, "SELECT 1::DECIMAL(38,0) AS v")
    assert any("DECIMAL OUTPUT COLUMN" in e for e in errs), errs


def test_mimic_accepts_digit_string_transport(spark):
    con = duckdb.connect()
    df = spark.sql(
        "SELECT cast(cast(12345678901234567890123456789 as decimal(38,0))"
        " as string) AS v"
    )
    errs = compare(
        "t", df, con,
        "SELECT 12345678901234567890123456789"
        "::DECIMAL(38,0)::VARCHAR AS v",
    )
    assert errs == []


@pytest.mark.parametrize(
    "value,scale_sql,expect",
    [
        ("5", "DECIMAL(38,4)", "5.0000"),
        ("-7", "DECIMAL(9,2)", "-7.00"),
        ("0", "DECIMAL(38,0)", "0"),
        ("12345678901234567890123", "DECIMAL(38,0)",
         "12345678901234567890123"),
    ],
)
def test_duckdb_decimal_string_rendering(value, scale_sql, expect):
    got = duckdb.connect().execute(
        f"SELECT ({value})::{scale_sql}::VARCHAR"
    ).fetchone()[0]
    assert got == expect


@pytest.mark.parametrize(
    "expr,expect",
    [
        ("cast(cast(5 as decimal(12,4)) as string)", "5.0000"),
        ("cast(cast(-7 as decimal(20,2)) as string)", "-7.00"),
        ("cast(cast(0 as decimal(38,0)) as string)", "0"),
        (
            "cast(cast('12345678901234567890123' as decimal(38,0))"
            " as string)",
            "12345678901234567890123",
        ),
    ],
)
def test_spark_decimal_string_rendering(spark, expr, expect):
    assert spark.sql(f"SELECT {expr} AS v").collect()[0][0] == expect


def test_duckdb_pandas_transport_folds_decimal_to_float64():
    """The mechanism behind the r8 reds.  If this ever starts failing
    (DuckDB shipping exact Decimal objects through .df()), the
    digit-string discipline deserves a fresh driver probe before being
    relaxed — do NOT flip it on this test alone."""
    df = duckdb.connect().execute("SELECT 5::DECIMAL(38,0) AS a").df()
    assert str(df["a"].dtype) == "float64"


def test_spark_topandas_transport_ships_decimal_objects(spark):
    pdf = spark.sql("SELECT cast(5 as decimal(38,0)) AS a").toPandas()
    assert isinstance(pdf["a"].iloc[0], Decimal)


def test_canon_families_keep_decimal_recognizable():
    """The compare() rejection keys on the substring 'decimal(' in the
    canonical family — pin both canonicalizers' spellings so a rename
    can't silently disable the guard."""
    from pyspark.sql import types as T

    assert "decimal(" in canon_duck("DECIMAL(38,0)")
    assert "decimal(" in canon_spark(T.DecimalType(38, 0))
    assert "decimal(" in canon_duck("DECIMAL(12,4)[]")
