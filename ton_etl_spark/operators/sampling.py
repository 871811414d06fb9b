"""Deterministic hash sampling and train/val/test splits.

Training-data pipelines need samples and splits that are (a)
reproducible run-to-run, (b) stable under repartitioning and input
order, (c) consistent ACROSS engines, so the curation job and the
audit query agree row-for-row. Random `sample()` gives none of these
— its output depends on partitioning and seed plumbing. Hash sampling
does: a row is kept iff the leading 32 bits of sha256(salt || id) fall
below floor(fraction * 2^32).

Engine portability trick: the comparison runs on the 8-char lowercase
hex PREFIX as a string — fixed-width lowercase hex ordering IS numeric
ordering — so the exact same predicate is one line of ANSI SQL
(`substr(sha256(salt || id), 1, 8) < '<hex threshold>'`), which is how
the DuckDB oracles check these operators bit-for-bit.

Scale shape: pure JVM column expressions (sha2 is codegen'd), zero
shuffles, predicate evaluates at the scan — sampling 100 TB is a
filter, not a job. Different salts give independent samples; the same
salt gives the same rows forever (splits never leak across epochs or
reruns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HEX_SPACE = 16 ** 8  # 2^32 — the sampled prefix width


def bucket_hex(id_col: str, salt: str) -> Column:
    """8-hex-char bucket of a row id: substring(sha256(salt||id), 1, 8)."""
    return F.substring(
        F.sha2(F.concat(F.lit(salt), F.col(id_col).cast("string")), 256), 1, 8
    )


def threshold_hex(fraction: float) -> str:
    """Hex threshold such that P(bucket < threshold) == fraction
    (exactly floor(fraction * 2^32) / 2^32). fraction == 1.0 returns
    the sentinel "g": every 8-char hex bucket (chars in [0-9a-f])
    sorts strictly below "g" in byte-wise ASCII order in BOTH Spark
    and DuckDB, so `bucket < 'g'` keeps ALL rows — the old clamp to
    "ffffffff" + strict `<` silently dropped rows whose bucket was
    exactly "ffffffff" (~2^-32/row), violating the exact-fraction
    contract."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    n = int(fraction * _HEX_SPACE)
    if n >= _HEX_SPACE:
        return "g"
    return format(n, "08x")


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample-v1"
) -> DataFrame:
    """Deterministic ~`fraction` sample, stable across runs/engines."""
    return df.filter(bucket_hex(id_col, salt) < F.lit(threshold_hex(fraction)))


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """[(split_name, upper hex bound)] for cumulative weights; the last
    split absorbs rounding (its bound is the above-all sentinel "g",
    though it is only ever used as the CASE/when ELSE arm)."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    names = list(weights)
    out, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, threshold_hex(cum)))
    out.append((names[-1], "g"))
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Adds `split_col` assigning each row to one split by hash bucket —
    disjoint, exhaustive, reproducible, engine-portable."""
    b = bucket_hex(id_col, salt)
    expr = None
    for name, bound in split_thresholds(weights)[:-1]:
        cond = b < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = list(weights)[-1]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    k: int,
    salt: str = "strat-v1",
) -> DataFrame:
    """Deterministic k-per-stratum sample: within each stratum keep the
    k rows with the smallest sha256(salt || id) (ties impossible modulo
    a hash collision, which the id tie-break then settles). Same three
    guarantees as hash_sample — reproducible, partitioning-independent,
    engine-portable (the oracle is one QUALIFY row_number clause) — but
    with an exact per-group count, which fraction sampling can't give
    on skewed strata (the balanced-eval-set use case).

    Scale shape: one hash shuffle on the strata columns for the window;
    the full sha256 (not the 8-char prefix) orders the window so the
    selection stays uniform within each stratum at any size."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    from pyspark.sql import Window as W

    h = F.sha2(F.concat(F.lit(salt), F.col(id_col).cast("string")), 256)
    w = W.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_strat_rn", F.row_number().over(w))
        .where(F.col("_strat_rn") <= k)
        .drop("_strat_rn")
    )


def split_case_sql(id_col: str, weights: dict[str, float], salt: str = "split-v1") -> str:
    """The ANSI-SQL CASE expression computing the identical split —
    used by the DuckDB oracles to verify `hash_split` bit-for-bit."""
    b = f"substr(sha256(concat('{salt}', CAST({id_col} AS VARCHAR))), 1, 8)"
    parts = []
    for name, bound in split_thresholds(weights)[:-1]:
        parts.append(f"WHEN {b} < '{bound}' THEN '{name}'")
    last = list(weights)[-1]
    return "CASE " + " ".join(parts) + f" ELSE '{last}' END"


def weighted_threshold_hex(weight: Column) -> Column:
    """Per-row hex threshold column: the row-wise generalization of
    `threshold_hex` — floor(weight * 2^32) rendered as 8 lowercase hex
    chars, with weight >= 1 mapped to the above-all sentinel "g" and
    weight <= 0 mapped to "00000000" (keeps nothing under strict <).
    Spark `hex()` and DuckDB `to_hex()` agree on BIGINT inputs, so the
    same arithmetic is one line of ANSI SQL for the oracle."""
    n = F.floor(weight * F.lit(float(_HEX_SPACE))).cast("long")
    return (
        F.when(weight >= 1.0, F.lit("g"))
        .when(weight <= 0.0, F.lit("00000000"))
        .otherwise(F.lower(F.lpad(F.hex(n), 8, "0")))
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight: Column, salt: str = "wsample-v1"
) -> DataFrame:
    """Per-row weighted Bernoulli keep: row kept iff its hash bucket
    falls below floor(weight * 2^32) / 2^32 — i.e. kept with
    probability clamp(weight, 0, 1), but DETERMINISTICALLY: the same
    row with the same weight is kept or dropped identically on every
    run, every partitioning, every engine. This is the quality-
    proportional downsampling primitive (keep high-quality documents
    with higher probability) that `sample()`-with-a-seed cannot give
    reproducibly across engines.

    Scale shape: identical to hash_sample — pure codegen'd column
    expressions, zero shuffles, the predicate evaluates at the scan.
    """
    return df.filter(
        bucket_hex(id_col, salt) < weighted_threshold_hex(weight)
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle-v1",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic global shuffle ORDER for training: every row gets
    a 1-based `shuffle_pos` equal to its rank under sha256(salt || id)
    — a reproducible, partitioning-independent, engine-portable random
    permutation of the corpus (the "shuffle the training data the same
    way on every run / engine" primitive; change the salt to get an
    independent epoch order).

    Scale shape: NOT a global single-partition sort. The hash key's
    leading byte buckets rows into `n_buckets` uniform groups; ranks
    are computed per-bucket (one hash shuffle), bucket offsets are a
    `n_buckets`-row side computation, and global_pos = offset +
    within-bucket rank via a broadcast join. The only single-partition
    step touches `n_buckets` rows, never the data. Writing the corpus
    range-partitioned by the same key yields files in shuffle order.
    """
    from pyspark.sql import Window as W

    h = F.sha2(F.concat(F.lit(salt), F.col(id_col).cast("string")), 256)
    # leading-byte bucket: 16^2 = 256 uniform buckets for the default;
    # n_buckets must be a power of 16 so a hex prefix addresses it
    px = 0
    n = n_buckets
    while n > 1:
        n //= 16
        px += 1
    if 16 ** px != n_buckets:
        raise ValueError(f"n_buckets must be a power of 16, got {n_buckets}")
    keyed = df.select(
        F.col(id_col),
        h.alias("_h"),
        F.substring(h, 1, px).alias("_b"),
    )
    wb = W.partitionBy("_b").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    ranked = keyed.withColumn("_r", F.row_number().over(wb))
    # bucket sizes -> exclusive prefix-sum offsets; n_buckets rows, so
    # the single-partition window here is O(n_buckets), not O(data)
    woff = W.orderBy(F.col("_b").asc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = (
        ranked.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("_b", F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), on="_b")
        .select(
            id_col,
            (F.col("_off") + F.col("_r")).cast("long").alias("shuffle_pos"),
        )
    )
