"""Unit tests for the crosscheck harness itself — the local replica of
the grading driver's compare must be at least as strict as the driver."""

import duckdb
import pytest

from ton_etl_spark.crosscheck import _norm, lint_oracle_types, value_hash


def test_lint_rejects_hugeint_oracle_columns():
    """DuckDB widens integer SUM/window-SUM to int128; the driver's hash
    renders that differently from Spark BIGINT even for identical
    values (3 red rows in round 3). The lint must flag such oracles
    BEFORE fetch — fetchall() converts to Python int and hides it."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1::BIGINT AS v")
    bad = lint_oracle_types(con, "SELECT sum(v) AS s FROM t")
    assert bad and "HUGEINT" in bad[0] and bad[0].startswith("s:")
    # the sanctioned fix passes
    assert lint_oracle_types(
        con, "SELECT CAST(sum(v) AS BIGINT) AS s FROM t"
    ) == []
    # plain columns and DOUBLE aggregates are fine
    assert lint_oracle_types(con, "SELECT v, avg(v) OVER () FROM t") == []


def test_float_normalization_is_exact_repr():
    """%.9g collapsed 9 significant digits and could mask a 6th-decimal
    mismatch on values with a >=4-digit integer part."""
    a, b = 1234.1234561, 1234.1234569
    assert f"{a:.9g}" == f"{b:.9g}"          # the old masking behavior
    assert _norm(a) != _norm(b)              # exact repr distinguishes
    assert value_hash([(a,)], ["x"]) != value_hash([(b,)], ["x"])


def test_value_hash_is_column_order_insensitive():
    h1 = value_hash([(1, "a")], ["n", "s"])
    h2 = value_hash([("a", 1)], ["s", "n"])
    assert h1 == h2
    assert value_hash([(2, "a")], ["n", "s"]) != h1
