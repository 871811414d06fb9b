"""get-method VM (operators/getvm.py) — exit-code contract, per-code
dispatch, and the missing-library resolve-and-retry path (the E7
emulator analogue; reference parser/parsers/accounts/emulator.py)."""

import pyspark.sql.functions as F
import pytest

from ton_etl_spark.operators.getvm import run_get_method

REG = {
    "c1": {
        "sum_fields": [
            ("push_field", 0), ("to_int",),
            ("push_field", 1), ("to_int",),
            ("add",),
        ],
        "ratio": [
            ("push_field", 0), ("to_int",),
            ("push_field", 1), ("to_int",),
            ("div",),
        ],
        "tag": [("push_field", 0), ("push_arg", 0), ("concat", ":")],
        # arithmetic on raw fields, no to_int: the op type-checks itself
        "raw_sum": [("push_field", 0), ("push_field", 1), ("add",)],
        "libbed": [("call_lib", "l1")],
    },
    "c2": {
        # same method name, different field order -> dispatch check
        "sum_fields": [
            ("push_field", 1), ("to_int",),
            ("push_field", 0), ("to_int",),
            ("sub",),
        ],
    },
}
LIBS = {"l1": [("push_const", "7"), ("to_int",), ("push_field", 0), ("to_int",), ("mul",)]}


def _df(spark, rows):
    return spark.createDataFrame(rows, "account string, code_hash string, data string")


def _collect(df, *cols):
    return {
        r["account"]: tuple(r[c] for c in cols)
        for r in df.select("account", *cols).collect()
    }


def test_dispatch_and_arithmetic(spark):
    df = _df(spark, [("a", "c1", "10|32"), ("b", "c2", "10|32"), ("c", "c3", "1|2")])
    out = _collect(
        run_get_method(df, REG, "sum_fields", 1), "out_0", "vm_exit_code"
    )
    assert out["a"] == ("42", 0)       # c1: 10+32
    assert out["b"] == ("22", 0)       # c2: 32-10
    assert out["c"] == (None, 11)      # unknown code_hash -> method not found


def test_row_level_exit_codes(spark):
    df = _df(spark, [
        ("ok", "c1", "84|2"),
        ("bad_int", "c1", "x|2"),      # exit 2
        ("div0", "c1", "84|0"),        # exit 4
        ("short", "c1", "84"),         # exit 5 (missing field)
        ("no_code", None, "84|2"),     # exit 11 (null code_hash)
    ])
    out = _collect(run_get_method(df, REG, "ratio", 1), "out_0", "vm_exit_code")
    assert out["ok"] == ("42", 0)
    assert out["bad_int"] == (None, 2)
    assert out["div0"] == (None, 4)
    assert out["short"] == (None, 5)
    assert out["no_code"] == (None, 11)

    raw = _df(spark, [("ok", "c1", "40|2"), ("bad_raw", "c1", "x|2")])
    out = _collect(run_get_method(raw, REG, "raw_sum", 1), "out_0", "vm_exit_code")
    assert out["ok"] == ("42", 0)
    assert out["bad_raw"] == (None, 2)


def test_floor_division_negative(spark):
    # numpy floor semantics, pinned so the SQL oracle (floor(a/b)) stays
    # byte-identical: -85 // 2 == -43, not -42
    df = _df(spark, [("n", "c1", "-85|2")])
    out = _collect(run_get_method(df, REG, "ratio", 1), "out_0")
    assert out["n"] == ("-43",)


def test_args_and_concat(spark):
    df = _df(spark, [("a", "c1", "s1|x")]).withColumn("who", F.lit("o9"))
    out = _collect(
        run_get_method(df, REG, "tag", 1, arg_cols=["who"]), "out_0"
    )
    assert out["a"] == ("s1:o9",)


def test_missing_library_no_resolver(spark):
    df = _df(spark, [("a", "c1", "6")])
    out = _collect(run_get_method(df, REG, "libbed", 1), "out_0", "vm_exit_code")
    assert out["a"] == (None, 9)


def test_missing_library_resolve_retry(spark):
    # emulator.py:119-135 analogue: first pass exits 9, the resolver is
    # invoked once, the method re-runs with the merged library map
    calls = []

    def resolver():
        calls.append(1)
        return LIBS

    df = _df(spark, [("a", "c1", "6"), ("b", "c1", "3")])
    out = _collect(
        run_get_method(df, REG, "libbed", 1, lib_resolver=resolver),
        "out_0", "vm_exit_code",
    )
    assert out == {"a": ("42", 0), "b": ("21", 0)}
    assert calls == [1]


def test_resolver_not_called_when_libs_present(spark):
    df = _df(spark, [("a", "c1", "6")])
    out = _collect(
        run_get_method(
            df, REG, "libbed", 1, libs=LIBS,
            lib_resolver=lambda: pytest.fail("resolver must not run"),
        ),
        "out_0",
    )
    assert out["a"] == ("42",)


def test_no_shuffle_plan(spark):
    # scale contract: the VM is one mapInPandas over the scan — no
    # Exchange may appear in the physical plan
    df = _df(spark, [("a", "c1", "1|2")])
    plan = (
        run_get_method(df, REG, "sum_fields", 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
