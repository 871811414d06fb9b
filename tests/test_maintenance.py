"""Lake maintenance: corrections delete, tombstone GC, compaction,
vacuum horizon, rename-collision guard."""

import os
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.lake.merge import append_insert, merge_into
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

from test_merge_unit import mk_table, upd, live


def test_delete_keys_corrections(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [
        {"repo": "r1", "path": "a", "lsn": 1, "op": "c", "content": "x"},
        {"repo": "r1", "path": "b", "lsn": 2, "op": "c", "content": "y"},
        {"repo": "r2", "path": "c", "lsn": 3, "op": "c", "content": "z"},
    ]))
    excl = spark.createDataFrame([("r1", "b")], "repo string, path string")
    res = t.delete_keys(excl)
    assert not res.get("skipped")
    assert set(live(t)) == {("r1", "a"), ("r2", "c")}
    assert t.history()[-1]["lineage"]["type"] == "corrections"
    # rows are gone even with tombstones visible (hard delete)
    assert t.read(include_deleted=True).filter(
        (F.col("repo") == "r1") & (F.col("path") == "b")
    ).count() == 0


def test_purge_tombstones_watermark(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [{"lsn": 1, "op": "c", "content": "x"}]))
    merge_into(t, upd(spark, [{"lsn": 10, "op": "d"}]))
    assert t.read(include_deleted=True).count() == 1
    # watermark below the tombstone: kept
    t.purge_tombstones(older_than_lsn=5)
    assert t.read(include_deleted=True).count() == 1
    # watermark above: purged
    t.purge_tombstones(older_than_lsn=11)
    assert t.read(include_deleted=True).count() == 0
    assert live(t) == {}


def test_vacuum_bounds_time_travel_with_clear_error(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [{"lsn": 1, "op": "c", "content": "v1"}]))
    merge_into(t, upd(spark, [{"lsn": 2, "op": "u", "content": "v2"}]))
    merge_into(t, upd(spark, [{"lsn": 3, "op": "u", "content": "v3"}]))
    assert t.read(version=1).count() == 1  # time travel works pre-vacuum
    t.vacuum(keep_last=1)
    assert live(t)[("r1", "p1")] == (3, "v3")  # current unaffected
    with pytest.raises(ValueError, match="expired by vacuum"):
        t.read(version=1)
    assert len(t.history()) >= 3  # lineage metadata survives vacuum


def test_rename_onto_existing_column_is_noop(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [{"lsn": 1, "op": "c", "content": "x"}]))
    t.add_column("language", "string")
    v = t.current_version()
    t.rename_column("lang", "language")  # target exists -> must not dup
    names = [f.name for f in t.schema().fields]
    assert names.count("language") == 1 and "lang" in names
    assert t.current_version() == v  # no-op commit-wise
    assert t.read().count() == 1


def test_compact_merges_fragmented_buckets(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "c"), REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn",
        bucket_count=2,
    )
    # several merges -> buckets accumulate one file per commit? (CoW
    # replaces files, so fragment artificially via multi-task writes)
    rows = [
        {"repo": f"r{i}", "path": f"p{i}", "lsn": i + 1, "op": "c",
         "content": f"c{i}"}
        for i in range(40)
    ]
    merge_into(t, upd(spark, rows))
    m = t.manifest()
    state_before = live(t)
    res = t.compact(max_files=1)
    assert live(t) == state_before
    m2 = t.manifest()
    assert all(len(fl) <= 1 for fl in m2["buckets"].values())


def test_rebucket_preserves_rows_and_future_merges(spark, tmp_path):
    t = mk_table(spark, tmp_path, buckets=4)
    merge_into(t, upd(spark, [
        {"repo": f"r{i % 7}", "path": f"p{i}", "lsn": i + 1, "op": "c",
         "content": f"v{i}"}
        for i in range(50)
    ]))
    merge_into(t, upd(spark, [{"repo": "r0", "path": "p0", "lsn": 99, "op": "d"}]))
    before = live(t)
    before_all = t.read(include_deleted=True).count()

    res = t.rebucket(16)
    assert res["from"] == 4 and res["to"] == 16
    m = t.manifest()
    assert m["bucket_count"] == 16
    assert live(t) == before
    # tombstones survive the rewrite (LSN guards stay effective)
    assert t.read(include_deleted=True).count() == before_all
    # rows actually land in their new buckets (manifest counts vs data)
    total = sum(m["bucket_rows"].values())
    assert total == before_all
    assert sum(1 for fl in m["buckets"].values() if fl) > 4

    # merges keep working under the new layout, including the delete guard
    merge_into(t, upd(spark, [
        {"repo": "r0", "path": "p0", "lsn": 50, "op": "u", "content": "late"},
        {"repo": "r1", "path": "p1", "lsn": 200, "op": "u", "content": "new"},
    ]))
    after = live(t)
    assert ("r0", "p0") not in after          # late pre-delete event loses
    assert after[("r1", "p1")] == (200, "new")
    # change feed still exact across the rebucket boundary
    feed = {
        (r["repo"], r["path"]): r["lsn"]
        for r in t.read_changes(99).collect()
    }
    assert feed == {("r1", "p1"): 200}
    # same-count rebucket is a no-op
    assert t.rebucket(16)["skipped"]


def _rows(spark, lo, hi, parts, lsn0=0):
    """Change rows for keys lo..hi-1 in `parts` input partitions."""
    return spark.range(lo, hi, numPartitions=parts).select(
        F.concat(F.lit("r"), (F.col("id") % 97).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        (F.col("id") + lsn0).alias("lsn"),
        F.lit("c").alias("op"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("content"),
    )


def _assert_manifest_matches_files(t):
    """bucket_rows, file_stats and bucket placement agree with the data
    files the manifest lists; each delta file covers only buckets its
    commit wrote it for."""
    m = t.manifest()
    listed = [p for fl in m["buckets"].values() for p in fl] + list(m["deltas"])
    scan = (
        t._scan(m, listed, True)
        .withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
            F.collect_set(t.bucket_expr(m)).alias("b"),
        )
        .collect()
    )
    got = {unquote(urlparse(r["_f"]).path): r for r in scan}
    live = set()
    for b, files in m["buckets"].items():
        n = 0
        for p in files:
            live.add(p)
            r = got.pop(os.path.abspath(os.path.join(t.root, p)))
            assert r["b"] == [int(b)], (p, b, r["b"])
            assert m["file_stats"][p] == [r["n"], r["lo"], r["hi"]], p
            n += r["n"]
        assert m["bucket_rows"].get(b, 0) == n, b
    written = {
        p: h["lineage"]["delta"]["buckets"]
        for h in t.history() if h["lineage"].get("mode") == "delta"
        for p in h["lineage"]["delta"]["files"]
    }
    for p, covered in m["deltas"].items():
        live.add(p)
        r = got.pop(os.path.abspath(os.path.join(t.root, p)))
        assert covered and set(covered) <= set(written[p]), p
        assert set(r["b"]) <= set(written[p]), p
        assert m["file_stats"][p] == [r["n"], r["lo"], r["hi"]], p
    assert t.delta_rows() == sum(m["file_stats"][p][0] for p in m["deltas"])
    assert not got  # every scanned file is listed in the manifest
    assert set(m["file_stats"]) == live
    assert all(
        n == 0 for b, n in m["bucket_rows"].items() if b not in m["buckets"]
    )


def test_manifest_matches_files_after_every_commit_kind(spark, tmp_path):
    t = mk_table(spark, tmp_path, buckets=64)
    check = _assert_manifest_matches_files

    def one_file_per_bucket():
        # the merge aggregation hash-partitions on the keys, so each
        # rewritten bucket is written by one task
        per_bucket = t.history()[-1]["lineage"]["buckets"]
        assert per_bucket and all(len(e["files"]) == 1 for e in per_bucket.values())

    res = merge_into(t, _rows(spark, 0, 2000, 4), batch_id=1)
    assert res["strategy"] == "union_agg"
    one_file_per_bucket()
    check(t)

    # a batch narrow next to its buckets appends its winners as a delta
    res = merge_into(t, upd(spark, [
        {"repo": "r5", "path": "p5", "lsn": 5000, "op": "u", "content": "n"},
        {"repo": "r6", "path": "p6", "lsn": 5000, "op": "d"},
    ]), batch_id=2)
    assert res["strategy"] == "union_agg" and res["mode"] == "delta"
    lin = t.history()[-1]["lineage"]
    affected = sorted({
        r["_b"] for r in upd(spark, [{"repo": "r5", "path": "p5", "lsn": 0},
                                     {"repo": "r6", "path": "p6", "lsn": 0}])
        .select(t.bucket_expr().alias("_b")).collect()
    })
    assert lin["delta"]["rows"] == 2 and lin["delta"]["buckets"] == affected
    assert len(lin["delta"]["files"]) == 1 and "buckets" not in lin
    check(t)

    # a batch as wide as its one bucket rewrites it (one file) and
    # drops that bucket from the delta's covered list
    b5 = upd(spark, [{"repo": "r5", "path": "p5", "lsn": 0}]).select(
        t.bucket_expr().alias("_b")).collect()[0]["_b"]
    res = merge_into(t, upd(spark, [
        {"repo": "r5", "path": "p5", "lsn": 6000 + i, "op": "u", "content": "w"}
        for i in range(100)
    ]), batch_id=3)
    assert res["mode"] == "rewrite"
    one_file_per_bucket()
    assert list(t.history()[-1]["lineage"]["buckets"]) == [str(b5)]
    assert all(b5 not in c for c in t.manifest()["deltas"].values())
    check(t)

    # new keys over 8 input partitions, no key shuffle: each task writes
    # a file into nearly every bucket -> more than 256 files, one commit
    res = append_insert(t, _rows(spark, 2000, 10000, 8, lsn0=10000), batch_id=4)
    assert res["rows_written"] == 8000
    written = [
        p for e in t.history()[-1]["lineage"]["buckets"].values()
        for p in e["files"]
    ]
    assert len(written) > 256
    check(t)

    # an empty append still commits and advances batch_id
    v = t.current_version()
    append_insert(t, _rows(spark, 0, 0, 1), batch_id=5)
    assert t.current_version() == v + 1 and t.manifest()["batch_id"] == 5
    check(t)

    # r5/p5's delta row is stale (its bucket was folded above) but may
    # sit in a file still covering r6/p6's bucket: a hard delete of
    # r5/p5 must not resurface it
    t.delete_keys(spark.createDataFrame(
        [("r7", "p7"), ("r8", "p2045"), ("r5", "p5")], "repo string, path string"
    ))
    check(t)
    assert t.read(include_deleted=True).filter(
        (F.col("repo") == "r5") & (F.col("path") == "p5")
    ).count() == 0

    n_files = sum(len(fl) for fl in t.manifest()["buckets"].values())
    assert not t.compact(max_files=1).get("skipped")
    assert sum(len(fl) for fl in t.manifest()["buckets"].values()) < n_files
    assert all(len(fl) <= 1 for fl in t.manifest()["buckets"].values())
    assert t.manifest()["deltas"] == {}   # compaction folds every delta
    check(t)
    rows = t.read(include_deleted=True).filter(
        F.col("path").isin("p5", "p6")).collect()
    assert [(r["path"], r["lsn"], r["_deleted"]) for r in rows] == [
        ("p6", 5000, True)]

    t.rebucket(16)
    m = t.manifest()
    assert m["bucket_count"] == 16 and sorted(m["buckets"], key=int) == [
        str(b) for b in range(16)
    ]
    assert m["lineage"]["type"] == "rebucket"
    assert all(e["replaced"] == [] for e in m["lineage"]["buckets"].values())
    check(t)
    assert t.read(include_deleted=True).count() == 9997
