"""Hot-key detection reads a frequency sketch that rides an aggregation:
a key holding SUPPORT of a batch's data rows gets the merge salted, a
uniform batch never does, and each batch is decided on its own. The
salted path through `apply_batch` ends in the sequential oracle's
state."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.cdc.pipeline import apply_batch
from ton_etl_spark.cdc.skew import SALT, HotKeyMonitor
from ton_etl_spark.datagen import Event, encode_payload
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.oracle import reduce_events, state_hashes
from ton_etl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    REPOS_KEY_FIELDS,
    REPOS_SCHEMA,
)


def _batch(spark, hot_share, n=4000, n_repos=40):
    hot = F.col("id") < F.lit(int(n * hot_share))
    return spark.range(n).select(
        F.when(hot, F.lit("hot")).otherwise(
            F.concat(F.lit("r"), (F.col("id") % n_repos).cast("string"))
        ).alias("repo"),
        F.when(hot, F.lit("x")).otherwise(F.col("id").cast("string")).alias("path"),
        (F.col("id") % 20 == 0).alias("is_data"),
    )


def _salt(mon, df, rows=None):
    """The monitor's decision over `df`, from one aggregation as in
    apply_batch's control plane."""
    rows = F.lit(True) if rows is None else rows
    r = df.agg(
        mon.sketch(rows).alias("top"), F.count(F.when(rows, 1)).alias("n")
    ).collect()[0]
    return mon.salt_for(r["top"], r["n"])


def test_each_batch_is_decided_on_its_own(spark):
    mon = HotKeyMonitor(["repo", "path"])
    assert _salt(mon, _batch(spark, 0.5)) == SALT == 16
    assert _salt(mon, _batch(spark, 0.0)) is None


def test_uniform_batch_is_not_salted(spark):
    # 40 repos of 2.5% each: none reaches 5%
    assert _salt(HotKeyMonitor(["repo"]), _batch(spark, 0.0)) is None
    # 95% of the rows are not data events: the sketch's NULL item tops
    # its list, and must not count as a key
    mon = HotKeyMonitor(["repo", "path"])
    assert _salt(mon, _batch(spark, 0.0), F.col("is_data")) is None


def test_half_hot_batch_gets_salt_16(spark):
    assert _salt(HotKeyMonitor(["repo", "path"]), _batch(spark, 0.5)) == 16
    # 20k rows, 18.8k distinct keys (past the sketch's 10k tracked
    # items), one key at 6%
    df = _batch(spark, 0.06, n=20_000, n_repos=20_000)
    assert _salt(HotKeyMonitor(["repo", "path"]), df) == SALT


def _upsert(lsn, path, op="u"):
    repo = "org0/repo0"
    return Event(lsn, op, "file_upsert", repo, path,
                 encode_payload(repo, path, lsn, False, False, False),
                 arrival=float(lsn), ts_ms=lsn)


@pytest.mark.parametrize("shuffle_partitions", [1, 8])
def test_salted_apply_matches_oracle(spark, tmp_path, shuffle_partitions):
    # one key takes half the upserts, under duplicate deliveries and a
    # delete of a tail key
    events = []
    for i in range(200):
        events.append(_upsert(10 * i + 1, "hot.py", "c" if i == 0 else "u"))
        events.append(_upsert(10 * i + 2, f"k{i}.py", "c"))
    events += [dataclasses.replace(e) for e in events[100:140]]
    events.append(Event(5000, "d", "file_delete", "org0/repo0", "k3.py",
                        None, arrival=5000.0, ts_ms=5000))
    rows = [
        {k: v for k, v in dataclasses.asdict(e).items() if k != "arrival"}
        for e in events
    ]
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=8,
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        res = apply_batch(
            spark, table, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA),
            batch_id=0, monitor=HotKeyMonitor(table.key_fields()),
        )
        got = {
            (r["repo"], r["path"]): (r["sha"], (r["lsn"], r["commit"],
                                                r["lang"], r["size_bytes"]))
            for r in table.read().select(
                "repo", "path", F.sha2("content", 256).alias("sha"),
                "lsn", "commit", "lang", "size_bytes",
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert res["salt"] == 16
    st, cols = reduce_events([dataclasses.asdict(e) for e in events])
    assert got == state_hashes(st, cols)
    assert got[("org0/repo0", "hot.py")][1][0] == 1991
