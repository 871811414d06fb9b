"""Hot-key detection counts keys exactly over the batch sample: a
uniform batch is never salted, a batch where one key holds half the
rows is."""

from pyspark.sql import functions as F

from ton_etl_spark.cdc.skew import HotKeyMonitor, detect_hot_keys


def _batch(spark, hot_share):
    n = 4000
    hot = F.col("id") < F.lit(int(n * hot_share))
    return spark.range(n).select(
        F.when(hot, F.lit("hot")).otherwise(
            F.concat(F.lit("r"), (F.col("id") % 40).cast("string"))
        ).alias("repo"),
        F.when(hot, F.lit("x")).otherwise(F.col("id").cast("string")).alias("path"),
    )


def test_uniform_batch_is_not_salted(spark):
    mon = HotKeyMonitor(["repo", "path"])
    assert mon.salt_for(_batch(spark, 0.0)) is None
    assert mon.hot_keys == []


def test_half_hot_batch_gets_salt_16(spark):
    mon = HotKeyMonitor(["repo", "path"])
    assert mon.salt_for(_batch(spark, 0.5)) == 16
    assert mon.hot_keys == ["hot\x00x"]
    # 40 repos of 2.5% each: none reaches 5%, all reach 2%
    assert detect_hot_keys(_batch(spark, 0.0), ["repo"], support=0.05) == []
    assert sorted(detect_hot_keys(_batch(spark, 0.0), ["repo"], support=0.02,
                                  sample_fraction=1.0)) == sorted(
        f"r{i}" for i in range(40))
