"""Deterministic get-method VM over account states — the Spark-first
analogue of the reference's TVM-emulator parsers (E7).

Reference behavior being mirrored (NOT ported — the reference embeds a
real TVM via pytvm and a live lite-client; this sandbox has neither):

  * parser/parsers/accounts/emulator.py:59-141 — EmulatorParser runs
    named get-methods against an account's (code, data) state; any
    nonzero VM exit code is a *NonCritical* failure (the row is skipped,
    the stream continues); exit code 9 with a missing library triggers a
    library fetch + one retry.
  * parser/parsers/accounts/jetton_wallets_recover.py:30-61 —
    `get_wallet_data` on the wallet state yields (balance, owner,
    jetton master); the master's own `get_wallet_address(owner)` must
    re-derive the wallet address or the wallet is fake and dropped.
  * parser/parsers/accounts/tvl.py:38-80 — `get_jetton_data` /
    `get_pool_data` with a platform-specific retry quirk (STON pools
    re-run the method against a patched address on exit code 9).

Spark-first design: account code is a *code_hash* pointing into a
driver-side program registry (the analogue of "unique jetton wallet
codes we already have in the DB", jetton_wallets_recover.py:20-23).
Programs are tiny stack-machine instruction lists; execution happens in
`mapInPandas` — one Arrow batch at a time, grouped by code_hash inside
the batch, every opcode a whole-column pandas/numpy operation. There is
no shuffle, no per-row Python, and the registry rides the closure like
any broadcast dim. Per-row failures set `vm_exit_code` and NULL the
outputs instead of failing the job — the NonCritical contract.

Scale shape: embarrassingly parallel over input partitions; cost is
O(rows x program length) with vectorized ops. At 100 TB the registry
stays a broadcast (contract code population is small — the reference
makes the same assumption), and the only joins live in the *callers*
(wallet -> master point lookups), which stay broadcast-able.

Instruction set (stack of pandas Series, one slot per row):

  ("push_const", v)   push scalar v to every row
  ("push_field", i)   push field i of the '|'-separated data payload
                      (missing field -> exit 5, like an out-of-range
                      cell slice)
  ("push_arg", i)     push the i-th method argument column
  ("to_int",)         top -> int64 (unparseable -> exit 2, TVM's
                      type-check error analogue)
  ("add",) ("sub",) ("mul",)   integer arithmetic on the top two
                      (a non-numeric operand -> exit 2)
  ("div",)            integer floor-div (div by zero -> exit 4)
  ("concat", sep)     top two strings -> a+sep+b
  ("call_lib", name)  inline the named library program (missing ->
                      exit 9, the missing-library path; see
                      `run_get_method(lib_resolver=...)`)

Exit codes: 0 ok; 2 type error; 4 div-by-zero; 5 missing field;
9 missing library; 11 unknown method for the code_hash (TVM's "method
not found" is also 11).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

MISSING_LIB = 9
NO_METHOD = 11


def _run_program(
    g: pd.DataFrame,
    program: list[tuple],
    libs: dict[str, list[tuple]],
    data_col: str,
    arg_cols: list[str],
    n_out: int,
):
    """Execute one program over one code_hash group, fully vectorized.

    Returns (outputs: list[Series len n_out], exit: Series[int32]).
    A row's first failure wins; later ops still run column-wise but
    their results are masked out at the end.
    """
    exit_ = pd.Series(0, index=g.index, dtype="int32")

    def fail(mask, code):
        nonlocal exit_
        exit_ = exit_.mask((exit_ == 0) & mask.fillna(True), code)

    fields = g[data_col].str.split("|")
    stack: list[pd.Series] = []

    # call_lib inlining happens up front so one linear pass executes;
    # a missing library fails the WHOLE group (the reference's missing
    # library is a property of the code, not of a row)
    flat: list[tuple] = []
    missing_lib = False
    for ins in program:
        if ins[0] == "call_lib":
            body = libs.get(ins[1])
            if body is None:
                missing_lib = True
                break
            flat.extend(body)
        else:
            flat.append(ins)
    if missing_lib:
        fail(pd.Series(True, index=g.index), MISSING_LIB)
        return [pd.Series(None, index=g.index, dtype="object")] * n_out, exit_

    for ins in flat:
        op = ins[0]
        if op == "push_const":
            stack.append(pd.Series(ins[1], index=g.index))
        elif op == "push_field":
            s = fields.str[ins[1]]
            fail(s.isna(), 5)
            stack.append(s)
        elif op == "push_arg":
            stack.append(g[arg_cols[ins[1]]])
        elif op == "to_int":
            s = pd.to_numeric(stack.pop(), errors="coerce")
            fail(s.isna(), 2)
            stack.append(s)
        elif op in ("add", "sub", "mul", "div"):
            b, a = stack.pop(), stack.pop()
            a, b = pd.to_numeric(a, errors="coerce"), pd.to_numeric(b, errors="coerce")
            # operands that skipped `to_int` fail the type check here
            fail(a.isna() | b.isna(), 2)
            if op == "div":
                zero = b == 0
                fail(zero, 4)
                # placeholder divisor; masked by exit code
                stack.append(a // b.mask(zero, 1))
            else:
                stack.append(a + b if op == "add" else a - b if op == "sub" else a * b)
        elif op == "concat":
            b, a = stack.pop(), stack.pop()
            stack.append(a.astype("string") + ins[1] + b.astype("string"))
        else:  # pragma: no cover - registry is driver-authored
            raise ValueError(f"unknown opcode {op!r}")

    outs = []
    for i in range(n_out):
        s = stack[len(stack) - n_out + i]
        # int64 -> trimmed decimal string, everything else as-is; NULL
        # where the row failed
        if pd.api.types.is_numeric_dtype(s):
            s = s.astype("Int64").astype("string")
        outs.append(s.astype("object").where(exit_ == 0, None))
    return outs, exit_


def run_get_method(
    df: DataFrame,
    registry: dict[str, dict[str, list[tuple]]],
    method: str,
    n_out: int,
    code_col: str = "code_hash",
    data_col: str = "data",
    arg_cols: list[str] | None = None,
    libs: dict[str, list[tuple]] | None = None,
    lib_resolver: Callable[[], dict[str, list[tuple]]] | None = None,
) -> DataFrame:
    """Run `method` against every account-state row of `df`.

    Appends `out_0..out_{n_out-1}` (string) and `vm_exit_code` (int)
    to the input columns. Nonzero exit codes carry NULL outputs — the
    caller decides whether to drop them (the reference treats every
    emulator failure as NonCritical, emulator.py:42-46).

    `lib_resolver` mirrors emulator.py:119-135: if any row exits with
    code 9 (missing library) the resolver is invoked ONCE for extra
    library programs and the method re-runs with the merged library
    map — the vectorized twin of "fetch the library, cache it, retry".
    The retry is a second full pass (exit-9 groups produced no work in
    the first), and resolution happens on the driver exactly like the
    reference's lite-client fetch.
    """
    arg_cols = arg_cols or []
    libs = dict(libs or {})

    def make_runner(lib_map):
        def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_cols = [pd.Series(None, index=pdf.index, dtype="object")
                            for _ in range(n_out)]
                exit_all = pd.Series(0, index=pdf.index, dtype="int32")
                for ch, g in pdf.groupby(code_col, sort=False, dropna=False):
                    prog = registry.get(ch, {}).get(method)
                    if prog is None:
                        exit_all.loc[g.index] = NO_METHOD
                        continue
                    outs, ex = _run_program(
                        g, prog, lib_map, data_col, arg_cols, n_out
                    )
                    exit_all.loc[g.index] = ex
                    for i in range(n_out):
                        out_cols[i].loc[g.index] = outs[i]
                for i in range(n_out):
                    pdf[f"out_{i}"] = out_cols[i]
                pdf["vm_exit_code"] = exit_all
                yield pdf
        return runner

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"out_{i} string" for i in range(n_out)]
        + ["vm_exit_code int"]
    )
    res = df.mapInPandas(make_runner(libs), schema=out_schema)

    if lib_resolver is not None:
        # the retry decision needs the exit codes -> one bounded probe
        # (single aggregated row), same pattern as the maturity gate
        n_missing = res.filter(
            F.col("vm_exit_code") == MISSING_LIB
        ).limit(1).count()
        if n_missing:
            libs = {**libs, **lib_resolver()}
            res = df.mapInPandas(make_runner(libs), schema=out_schema)
    return res
