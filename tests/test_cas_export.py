"""Content-addressed export sink (cdc/cas_export.py) — the sha256
file-naming half of the reference's datalake exporter
(datalake/main.py:135-158): deterministic names, idempotent rewrites,
batch-guarded replay, and the streaming relay integration."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ton_etl_spark.cdc.cas_export import cas_export, read_manifest
from ton_etl_spark.cdc.relay import convert_for_export, run_relay
from ton_etl_spark.datagen import GenParams, generate_events, write_event_log
from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA


def _docs(spark, n=500):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
            (F.col("id") % 3).cast("string").alias("day"),
        )
    )


def _files(out):
    return sorted(
        os.path.relpath(p, out)
        for p in glob.glob(os.path.join(out, "day=*", "*.parquet"))
    )


def test_cas_deterministic_and_idempotent(spark, tmp_path):
    out = str(tmp_path / "cas")
    df = _docs(spark)
    recs1 = cas_export(df, out, "day")
    files1 = _files(out)
    assert len(files1) == 3 and len(recs1) == 3
    assert all(len(os.path.basename(f)) == 32 + 8 for f in files1)  # sha32.parquet
    mtimes = {f: os.path.getmtime(os.path.join(out, f)) for f in files1}

    # same content again -> same names, nothing rewritten
    recs2 = cas_export(df, out, "day")
    assert recs2 == recs1
    assert _files(out) == files1
    assert {f: os.path.getmtime(os.path.join(out, f)) for f in files1} == mtimes

    # content round-trips exactly (names are derived FROM the bytes)
    back = spark.read.parquet(*[os.path.join(out, f) for f in files1])
    assert sorted(r["k"] for r in back.collect()) == list(range(500))

    # a nullable column that is all null in one partition's slice is
    # still written with the column's type: every file has one schema
    out_n = str(tmp_path / "cas_nulls")
    cas_export(
        df.withColumn("note", F.when(F.col("day") == "0", F.lit("x"))),
        out_n, "day",
    )
    schemas = [pq.read_schema(os.path.join(out_n, f)) for f in _files(out_n)]
    assert len(schemas) == 3
    assert all(s == schemas[0] for s in schemas), [str(s) for s in schemas]


def test_cas_chunking_deterministic(spark, tmp_path):
    out = str(tmp_path / "cas")
    recs = cas_export(_docs(spark), out, "day", max_rows_per_file=100)
    # 500 rows over 3 partitions (167/167/166) at 100 rows/file -> 2 each
    assert len(recs) == 6
    assert sum(r["rows"] for r in recs) == 500
    # different upstream partitioning, same bytes -> same shas
    recs_b = cas_export(
        _docs(spark).repartition(7), str(tmp_path / "cas_b"), "day",
        max_rows_per_file=100,
    )
    assert {r["sha"] for r in recs_b} == {r["sha"] for r in recs}


def test_cas_batch_guard_replay(spark, tmp_path):
    out = str(tmp_path / "cas")
    df = _docs(spark, 50)
    recs = cas_export(df, out, "day", batch_id=1)
    assert read_manifest(out)["batches"]["1"] == recs
    # a redelivered committed batch is SKIPPED (no job), records returned
    replay = cas_export(df.limit(0), out, "day", batch_id=1)  # wrong df on purpose
    assert replay == recs
    # next batch appends under its own id
    recs2 = cas_export(_docs(spark, 60).filter(F.col("k") >= 50), out, "day", batch_id=2)
    man = read_manifest(out)
    assert set(man["batches"]) == {"1", "2"} and man["batches"]["2"] == recs2

    # the skip keys on exact membership: an id below the highest recorded
    # one but absent from the manifest (a gap, or a fresh checkpoint
    # restarting at 0) is exported and recorded, not looked up
    for case, recorded, bid in (("gap", [0, 2], 1), ("fresh_cp", [5], 0)):
        out_c = str(tmp_path / case)
        for b in recorded:
            cas_export(_docs(spark, 10), out_c, "day", batch_id=b)
        got = cas_export(df.filter(F.col("k") >= 40), out_c, "day", batch_id=bid)
        man = read_manifest(out_c)
        assert got and man["batches"][str(bid)] == got, case
        assert set(man["batches"]) == {str(b) for b in recorded + [bid]}, case


def test_relay_cas_sink_e2e(spark, tmp_path):
    p = GenParams(n_events=1500, n_repos=8, n_files=4)
    write_event_log(generate_events(p), str(tmp_path / "events"), p.n_files)
    out = str(tmp_path / "export")
    cp = str(tmp_path / "cp")

    run_relay(spark, str(tmp_path / "events"), out, cp,
              max_files_per_trigger=2, sink="parquet_cas")
    files1 = sorted(glob.glob(os.path.join(out, "block_date=*", "*.parquet")))
    assert files1, "no CAS files written"
    got = spark.read.parquet(*files1)
    expected = convert_for_export(
        spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(str(tmp_path / "events"))
    )
    assert got.count() == expected.count()
    a = {(r["lsn"], r["content_sha"]) for r in got.select("lsn", "content_sha").collect()}
    b = {(r["lsn"], r["content_sha"]) for r in expected.select(
        "lsn", F.sha2("content", 256).alias("content_sha")).collect()}
    assert a == b

    # restart from the same checkpoint: no new files, manifest unchanged
    man1 = read_manifest(out)
    run_relay(spark, str(tmp_path / "events"), out, cp,
              max_files_per_trigger=2, sink="parquet_cas")
    assert sorted(glob.glob(os.path.join(out, "block_date=*", "*.parquet"))) == files1
    assert read_manifest(out) == man1
