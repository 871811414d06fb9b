"""Hash sampling / splits: determinism, disjoint-exhaustive splits,
proportion concentration, salt independence, engine-portable SQL."""

import duckdb
import pytest

from ton_etl_spark.operators.sampling import (
    hash_sample,
    hash_split,
    split_case_sql,
    split_thresholds,
    stratified_sample,
    threshold_hex,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], "doc_id long, text string"
    )


def test_sample_is_deterministic_and_proportional(docs):
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.3).collect()}
    b = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.3).collect()}
    assert a == b
    # binomial(2000, .3): 6 sigma ~ 123
    assert abs(len(a) - 600) < 130
    # a smaller fraction with the same salt is a SUBSET (nested samples)
    c = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.1).collect()}
    assert c <= a
    # a different salt draws an (approximately) independent sample
    d = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.3, salt="other").collect()}
    assert d != a


def test_split_disjoint_exhaustive_and_stable(docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(docs, "doc_id", w).collect()
    assert len(out) == 2000
    by = {}
    for r in out:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by) == set(w)
    assert sum(len(v) for v in by.values()) == 2000  # exhaustive+disjoint
    assert abs(len(by["train"]) - 1600) < 110  # 6 sigma ~ 107
    # weights normalize: same assignment for 8/1/1 as 0.8/0.1/0.1
    out2 = hash_split(docs, "doc_id", {"train": 8, "val": 1, "test": 1}).collect()
    assert {(r["doc_id"], r["split"]) for r in out2} == {
        (r["doc_id"], r["split"]) for r in out
    }


def test_split_sql_twin_matches_spark(docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    spark_assign = {
        (r["doc_id"], r["split"])
        for r in hash_split(docs, "doc_id", w).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT unnest(range(2000)) AS doc_id")
    duck_assign = set(
        con.execute(
            f"SELECT doc_id, {split_case_sql('doc_id', w)} AS s FROM d"
        ).fetchall()
    )
    assert spark_assign == duck_assign


def test_threshold_edges():
    assert threshold_hex(0.0) == "00000000"
    # fraction 1.0 -> the above-all sentinel: every 8-hex bucket sorts
    # strictly below "g" byte-wise in both Spark and DuckDB, so a full
    # sample keeps even the "ffffffff" bucket (the old "ffffffff"
    # clamp + strict `<` dropped it)
    assert threshold_hex(1.0) == "g"
    assert "ffffffff" < threshold_hex(1.0)
    with pytest.raises(ValueError):
        threshold_hex(1.5)
    # last split absorbs rounding via the ELSE arm
    ths = split_thresholds({"a": 0.5, "b": 0.5})
    assert ths[-1] == ("b", "g")


def test_full_sample_keeps_every_row(docs):
    assert hash_sample(docs, "doc_id", 1.0).count() == docs.count()


def test_stratified_sample_exact_k_per_stratum(spark):
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = stratified_sample(df, ["grp"], "doc_id", k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["grp"], set()).add(r["doc_id"])
    # exact k from the 900-row stratum AND the 100-row stratum
    assert len(got["big"]) == 5 and len(got["small"]) == 5
    # deterministic across runs and across input partitioning
    again = stratified_sample(df.repartition(7), ["grp"], "doc_id", k=5)
    got2 = {}
    for r in again.collect():
        got2.setdefault(r["grp"], set()).add(r["doc_id"])
    assert got == got2
    # k above stratum size keeps the whole stratum
    assert stratified_sample(df, ["grp"], "doc_id", k=2000).count() == 1000
    with pytest.raises(ValueError):
        stratified_sample(df, ["grp"], "doc_id", k=-1)


def test_stratified_sample_matches_duckdb_twin(spark):
    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = sorted(
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, ["lang"], "doc_id", k=4).collect()
    )
    con = duckdb.connect()
    con.register("d", __import__("pandas").DataFrame(rows, columns=["doc_id", "lang"]))
    want = sorted(
        (lang, doc_id)
        for doc_id, lang in con.sql(
            """
            SELECT doc_id, lang FROM d
            QUALIFY row_number() OVER (
              PARTITION BY lang
              ORDER BY sha256(concat('strat-v1', CAST(doc_id AS VARCHAR))), doc_id
            ) <= 4
            """
        ).fetchall()
    )
    assert got == want


def test_weighted_sample_deterministic_and_monotone(docs, spark):
    from pyspark.sql import functions as F
    from ton_etl_spark.operators.sampling import weighted_sample

    w = F.least(F.lit(1.0), F.col("doc_id") / F.lit(1000.0))
    a = {r["doc_id"] for r in weighted_sample(docs, "doc_id", w).collect()}
    b = {
        r["doc_id"]
        for r in weighted_sample(docs.repartition(7), "doc_id", w).collect()
    }
    assert a == b  # partitioning-independent
    # weight >= 1 rows are ALWAYS kept (the 'g' sentinel)
    assert {i for i in range(1000, 2000)} <= a
    # weight <= 0 rows are NEVER kept
    assert 0 not in a
    # overall keep count concentrates around sum(weights) ~ 500 + 1000
    assert abs(len(a) - 1500) < 130
    # same row + higher weight can only ADD rows (nested thresholds)
    w2 = F.least(F.lit(1.0), F.col("doc_id") / F.lit(500.0))
    a2 = {r["doc_id"] for r in weighted_sample(docs, "doc_id", w2).collect()}
    assert a <= a2


def test_weighted_sample_matches_duckdb(docs):
    from pyspark.sql import functions as F
    from ton_etl_spark.operators.sampling import weighted_sample

    w = F.least(F.lit(1.0), F.col("doc_id") / F.lit(1000.0))
    got = sorted(
        r["doc_id"] for r in weighted_sample(docs, "doc_id", w).collect()
    )
    con = duckdb.connect()
    exp = [
        r[0]
        for r in con.sql(
            """
      SELECT i AS doc_id FROM range(2000) t(i)
      WHERE substr(sha256(concat('wsample-v1', CAST(i AS VARCHAR))), 1, 8)
            < CASE
                WHEN least(1.0, i / 1000.0) >= 1.0 THEN 'g'
                WHEN least(1.0, i / 1000.0) <= 0.0 THEN '00000000'
                ELSE lower(lpad(to_hex(CAST(floor(
                       least(1.0, i / 1000.0) * 4294967296.0) AS BIGINT)),
                     8, '0'))
              END
      ORDER BY 1
    """
        ).fetchall()
    ]
    assert got == exp


def test_corpus_shuffle_is_permutation_and_partition_independent(docs, spark):
    from ton_etl_spark.operators.sampling import corpus_shuffle

    a = {
        r["doc_id"]: r["shuffle_pos"]
        for r in corpus_shuffle(docs, "doc_id").collect()
    }
    assert sorted(a.values()) == list(range(1, len(a) + 1))  # bijection
    b = {
        r["doc_id"]: r["shuffle_pos"]
        for r in corpus_shuffle(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # partitioning-independent
    # a different salt is an independent epoch order
    c = {
        r["doc_id"]: r["shuffle_pos"]
        for r in corpus_shuffle(docs, "doc_id", salt="epoch-2").collect()
    }
    assert c != a and sorted(c.values()) == sorted(a.values())


def test_corpus_shuffle_matches_duckdb(docs):
    from ton_etl_spark.operators.sampling import corpus_shuffle

    got = sorted(
        (r["doc_id"], r["shuffle_pos"])
        for r in corpus_shuffle(docs, "doc_id").collect()
    )
    con = duckdb.connect()
    exp = sorted(
        con.sql(
            """
      SELECT i AS doc_id,
             row_number() OVER (
               ORDER BY sha256(concat('shuffle-v1', CAST(i AS VARCHAR))), i
             ) AS pos
      FROM range(2000) t(i)
    """
        ).fetchall()
    )
    assert got == exp
