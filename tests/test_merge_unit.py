"""Unit tests of the merge kernel: LSN dedup, LWW guards, tombstones,
salting parity, narrow-batch oracle, schema evolution reads."""

import pytest

from ton_etl_spark.lake.merge import merge_into
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA


UPD_SCHEMA = (
    "repo string, path string, lsn long, op string, commit string, "
    "lang string, content string, size_bytes int"
)


def mk_table(spark, tmp_path, name="t", buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=buckets,
    )


def upd(spark, rows):
    return spark.createDataFrame(
        [
            (r.get("repo", "r1"), r.get("path", "p1"), r["lsn"], r.get("op", "u"),
             r.get("commit"), r.get("lang"), r.get("content"), r.get("size"))
            for r in rows
        ],
        UPD_SCHEMA,
    )


def live(table):
    return {
        (r["repo"], r["path"]): (r["lsn"], r["content"])
        for r in table.read().collect()
    }


# -- dedup ------------------------------------------------------------------

@pytest.mark.parametrize("salt", [None, 4])
def test_dedup_picks_max_lsn_deterministically(spark, tmp_path, salt):
    rows = [
        {"lsn": 5, "op": "u", "content": "v5"},
        {"lsn": 9, "op": "u", "content": "v9"},
        {"lsn": 9, "op": "u", "content": "v9"},   # duplicate delivery
        {"lsn": 7, "op": "d"},
        {"lsn": 2, "op": "c", "content": "v2"},
    ]
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, rows), salt=salt)
    out = t.read(include_deleted=True).collect()
    assert len(out) == 1
    assert out[0]["lsn"] == 9 and out[0]["content"] == "v9"


# -- LWW / tombstones -------------------------------------------------------

def test_lww_guard_and_tombstones(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [{"lsn": 10, "op": "c", "content": "a"}]))
    # stale update loses
    merge_into(t, upd(spark, [{"lsn": 5, "op": "u", "content": "stale"}]))
    assert live(t)[("r1", "p1")] == (10, "a")
    # delete wins with newer lsn, leaves a tombstone
    merge_into(t, upd(spark, [{"lsn": 20, "op": "d"}]))
    assert ("r1", "p1") not in live(t)
    dead = t.read(include_deleted=True).collect()
    assert len(dead) == 1 and dead[0]["_deleted"] and dead[0]["lsn"] == 20
    # late pre-delete event cannot resurrect the key
    merge_into(t, upd(spark, [{"lsn": 15, "op": "u", "content": "ghost"}]))
    assert ("r1", "p1") not in live(t)
    # genuinely newer insert revives it
    merge_into(t, upd(spark, [{"lsn": 30, "op": "c", "content": "reborn"}]))
    assert live(t)[("r1", "p1")] == (30, "reborn")


def test_equal_lsn_keeps_target(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, [{"lsn": 10, "op": "c", "content": "first"}]))
    merge_into(t, upd(spark, [{"lsn": 10, "op": "u", "content": "dup"}]))
    assert live(t)[("r1", "p1")] == (10, "first")  # strict `<` guard


# -- narrow batch vs oracle ------------------------------------------------

OP_RANK = {"d": 3, "u": 2, "c": 1}


def test_narrow_batch_matches_max_lsn_oracle(spark, tmp_path):
    """A few keys over a 200-key seeded table: per key the max
    (lsn, op_rank) change wins unless the target row is at least as new."""
    base = [
        {"repo": "r0", "path": f"seed{i}", "lsn": i + 1, "op": "c",
         "content": f"s{i}"}
        for i in range(200)
    ]
    batch = [
        {"repo": "r0", "path": "seed5", "lsn": 900, "op": "u", "content": "n5"},
        {"repo": "r0", "path": "seed5", "lsn": 900, "op": "u", "content": "n5"},
        {"repo": "r0", "path": "seed6", "lsn": 901, "op": "d"},
        {"repo": "r0", "path": "seed7", "lsn": 8, "op": "u", "content": "tie"},
        {"repo": "r0", "path": "fresh", "lsn": 902, "op": "c", "content": "f"},
    ]
    t = mk_table(spark, tmp_path)
    merge_into(t, upd(spark, base))
    res = merge_into(t, upd(spark, batch))
    assert res["strategy"] == "union_agg"

    # oracle: target rows rank above batch rows at an equal lsn
    state = {(r["repo"], r["path"]): (r["lsn"], 1, 0, r) for r in base}
    for r in batch:
        k = (r["repo"], r["path"])
        cand = (r["lsn"], 0, OP_RANK[r["op"]], r)
        if k not in state or cand[:3] > state[k][:3]:
            state[k] = cand
    want = {
        k: (v[3]["lsn"], v[3]["content"])
        for k, v in state.items()
        if v[3]["op"] != "d"
    }
    assert live(t) == want
    assert want[("r0", "seed7")] == (8, "s7") and ("r0", "seed6") not in want


# -- salting parity ---------------------------------------------------------

def test_salted_merge_parity(spark, tmp_path):
    # hot key with many versions + long tail; salted and unsalted runs
    # must be byte-identical (north rule: salt affects only the shuffle)
    rows = [
        {"repo": "hot", "path": "k", "lsn": i, "op": "u", "content": f"v{i}"}
        for i in range(1, 300)
    ] + [
        {"repo": f"r{i}", "path": "p", "lsn": 1000 + i, "op": "c",
         "content": f"x{i}"}
        for i in range(40)
    ]
    t1 = mk_table(spark, tmp_path, "nosalt")
    merge_into(t1, upd(spark, rows), salt=None)
    t2 = mk_table(spark, tmp_path, "salted")
    merge_into(t2, upd(spark, rows), salt=16)
    assert live(t1) == live(t2)
    assert live(t1)[("hot", "k")] == (299, "v299")


# -- schema evolution reads -------------------------------------------------

def test_widen_and_add_read_old_files(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_into(
        t, upd(spark, [{"lsn": 1, "op": "c", "content": "old", "size": 7}])
    )
    t.widen_column("size_bytes", "bigint")
    t.add_column("stars", "bigint")
    t.rename_column("lang", "language")
    # old parquet file has int32 size_bytes, no stars, field-id lang
    row = t.read().collect()[0]
    assert row["size_bytes"] == 7 and row["stars"] is None
    assert "language" in t.read().columns
    # new write at the widened type
    big = 6_000_000_000
    df = spark.createDataFrame(
        [("r1", "p2", 2, "c", None, None, "new", big, 5)],
        "repo string, path string, lsn long, op string, commit string, "
        "language string, content string, size_bytes long, stars long",
    )
    merge_into(t, df)
    vals = {r["path"]: r["size_bytes"] for r in t.read().collect()}
    assert vals == {"p1": 7, "p2": big}
