"""End-to-end CDC replay parity: pipeline vs sequential Python oracle.

The BASELINE.json invariant: after replaying the full change-event log
(duplicates, out-of-order arrival, deletes, renames, schema evolution,
malformed rows), the lake table matches the oracle row-for-row with
sha256(content) equality.
"""

import dataclasses
import hashlib
import json

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.datagen import (
    Event,
    GenParams,
    generate_events,
    write_event_log,
)
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.oracle import reduce_events, state_hashes
from ton_etl_spark.cdc.pipeline import CdcPipeline
from ton_etl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    REPOS_KEY_FIELDS,
    REPOS_SCHEMA,
)


def build_table(spark, root, buckets=16):
    return LakeTable.create(
        spark, root, REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn", bucket_count=buckets
    )


def table_state(table):
    """(repo, path) -> (sha256(content), (lsn, commit, lang, size, stars...))"""
    df = table.read()
    cols = [c for c in df.columns if c not in ("repo", "path", "content")]
    rows = df.select(
        "repo", "path", F.sha2("content", 256).alias("sha"), *cols
    ).collect()
    return {
        (r["repo"], r["path"]): (r["sha"], tuple(r[c] for c in cols))
        for r in rows
    }


def mv(lsn, path, new_path, repo="org0/repo0"):
    """A file_rename event of `repo`/`path` to `new_path` at `lsn`."""
    return Event(lsn, "u", "file_rename", repo, path,
                 json.dumps({"new_path": new_path}),
                 arrival=float(lsn), ts_ms=lsn)


def read_log(spark, tmp_path, name, events):
    """`events` written as a one-file log under tmp_path/name, read
    back as the change-event DataFrame `apply_batch` takes."""
    log_dir = str(tmp_path / name)
    write_event_log(events, log_dir, 1)
    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)


def oracle_state(events):
    st, cols = reduce_events(
        [dataclasses.asdict(e) for e in events]
    )
    # align to the engine's column order: lsn first then the rest
    data_cols = [c for c in cols if c not in ("repo", "path", "content")]
    out = {}
    for key, row in st.items():
        content = row.get("content")
        sha = (
            hashlib.sha256(content.encode()).hexdigest()
            if content is not None
            else None
        )
        out[key] = (sha, tuple(row.get(c) for c in data_cols))
    return out, cols


@pytest.mark.parametrize("n_events", [4000])
def test_batch_replay_matches_oracle(spark, tmp_path, n_events):
    p = GenParams(n_events=n_events, n_repos=20, paths_per_repo=15, n_files=6)
    events = generate_events(p)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)

    table = build_table(spark, str(tmp_path / "lake"))
    pipe = CdcPipeline(spark, table, log_dir, str(tmp_path / "cp"))
    res = pipe.run_batch()
    assert not res.get("skipped")

    expected, cols = oracle_state(events)
    got = table_state(table)
    assert "language" in cols  # rename DDL happened
    assert "stars" in cols     # add DDL happened
    assert set(got) == set(expected)
    mismatched = {
        k: (got[k], expected[k]) for k in expected if got[k] != expected[k]
    }
    assert not mismatched, f"{len(mismatched)} mismatched rows, e.g. " + str(
        list(mismatched.items())[:3]
    )


def test_streaming_replay_matches_oracle(spark, tmp_path):
    p = GenParams(n_events=4000, n_repos=20, paths_per_repo=15, n_files=10)
    events = generate_events(p)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)

    table = build_table(spark, str(tmp_path / "lake"))
    pipe = CdcPipeline(
        spark, table, log_dir, str(tmp_path / "cp"), max_files_per_trigger=2
    )
    pipe.run_streaming(available_now=True)
    assert pipe.batches_applied >= 4  # really was incremental

    expected, _ = oracle_state(events)
    got = table_state(table)
    assert got == expected


def test_idempotent_rerun_is_noop(spark, tmp_path):
    p = GenParams(n_events=1000, n_repos=10, n_files=4)
    events = generate_events(p)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)

    table = build_table(spark, str(tmp_path / "lake"))
    pipe = CdcPipeline(spark, table, log_dir, str(tmp_path / "cp"))
    pipe.run_streaming()
    v1 = table.current_version()
    state1 = table_state(table)

    # same checkpoint, no new files -> no new commits
    pipe2 = CdcPipeline(spark, table, log_dir, str(tmp_path / "cp"))
    pipe2.run_streaming()
    assert table.current_version() == v1
    assert table_state(table) == state1


def test_chained_rename_flood_guard(spark, tmp_path, monkeypatch):
    """Adversarial chained-rename flood: the distributed resolver
    groups candidate provenance per chain component, bounded by
    MAX_CHAIN_PROVENANCE_ROWS — above the bound the task must FAIL
    LOUDLY (with the evidence) instead of silently building a giant
    pandas frame. The failure surfaces
    inside the merge action, so the batch is NOT committed. Below the
    bound the same batch must resolve the chain exactly."""
    import json

    import ton_etl_spark.cdc.pipeline as pl
    from ton_etl_spark.datagen import Event, encode_payload
    from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    repo = "org0/repo0"
    events = [
        Event(10, "c", "file_upsert", repo, "a.py",
              encode_payload(repo, "a.py", 10, False, False, False),
              arrival=10.0, ts_ms=10),
        # a.py -> b.py -> c.py in the SAME batch = a rename chain
        Event(20, "u", "file_rename", repo, "a.py",
              json.dumps({"new_path": "b.py"}), arrival=20.0, ts_ms=20),
        Event(30, "u", "file_rename", repo, "b.py",
              json.dumps({"new_path": "c.py"}), arrival=30.0, ts_ms=30),
    ]
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, 1)
    ev = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)

    # 1 upsert candidate row > bound of 0 -> loud failure, nothing applied
    # (raised inside the resolver task -> surfaces wrapped by Spark)
    monkeypatch.setattr(pl, "MAX_CHAIN_PROVENANCE_ROWS", 0)
    flood_table = build_table(spark, str(tmp_path / "lake_flood"), buckets=4)
    with pytest.raises(Exception, match="chained-rename"):
        pl.apply_batch(spark, flood_table, ev, batch_id=0)
    assert flood_table.manifest()["batch_id"] == -1  # batch NOT committed

    # default bound: same batch resolves the chain end-to-end
    monkeypatch.undo()
    table = build_table(spark, str(tmp_path / "lake_ok"), buckets=4)
    pl.apply_batch(spark, table, ev, batch_id=0)
    state = table_state(table)
    assert set(state) == {(repo, "c.py")}


@pytest.mark.parametrize("shuffle_partitions", [1, 8])
def test_mixed_rename_batch_matches_oracle(
    spark, tmp_path, monkeypatch, shuffle_partitions
):
    """One batch holding every kind of rename goes through the one
    resolver: a chain-free rename (delivered twice), a 3-rename swap
    cycle, a rename of a key deleted earlier in the batch and a rename
    of a key first upserted earlier in the batch. At 1 shuffle partition
    all four components share one resolver group; at 8 each has its
    own. The bound is set to the largest component's candidate count
    (the swap cycle: lake a, lake b, in-batch a@105), below the group's
    total of 7, so it must hold per component."""
    import ton_etl_spark.cdc.pipeline as pl
    from ton_etl_spark.datagen import encode_payload

    repo = "org0/repo0"

    def up(lsn, path):
        return Event(lsn, "u", "file_upsert", repo, path,
                     encode_payload(repo, path, lsn, False, False, False),
                     arrival=float(lsn), ts_ms=lsn)

    preload = [up(1, "p.py"), up(2, "a.py"), up(3, "b.py"), up(4, "x.py")]
    batch = [
        mv(100, "p.py", "q.py"),
        mv(100, "p.py", "q.py"),  # duplicate delivery
        up(105, "a.py"),
        mv(110, "a.py", "t.py"),
        mv(120, "b.py", "a.py"),
        mv(130, "t.py", "b.py"),
        Event(140, "d", "file_delete", repo, "x.py", None,
              arrival=140.0, ts_ms=140),
        mv(150, "x.py", "y.py"),  # old key dead: skipped
        up(160, "u.py"),
        mv(170, "u.py", "v.py"),
    ]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    monkeypatch.setattr(pl, "MAX_CHAIN_PROVENANCE_ROWS", 3)
    try:
        table = build_table(spark, str(tmp_path / "lake"), buckets=4)
        pl.apply_batch(
            spark, table, read_log(spark, tmp_path, "ev0", preload), batch_id=0
        )
        res = pl.apply_batch(
            spark, table, read_log(spark, tmp_path, "ev1", batch), batch_id=1
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert res["n_renames"] == 6  # deduped by lsn: the duplicate counts once
    assert res["n_chained_renames"] == 3  # the swap cycle
    expected, _ = oracle_state(preload + batch)
    assert set(expected) == {(repo, p) for p in ("q.py", "a.py", "b.py", "v.py")}
    assert table_state(table) == expected


def test_rename_moves_post_ddl_types_exactly(spark, tmp_path):
    """Moved content passes through the resolver's Python worker, so
    its values must come out at the types the schema has after DDL: a
    `size_bytes` above 2^31 once the column is widened, nulls and a
    value above 2^53 in a bigint column an `add` DDL created. The
    sources are lake rows written after the DDL, a lake row written
    before it (int size, no `stars`) and an upsert earlier in the same
    batch. One shuffle partition puts every rename in one resolver
    group, so nulls and the large value share the group's columns."""
    import base64
    import zlib

    import ton_etl_spark.cdc.pipeline as pl

    repo = "org0/repo0"

    def up(lsn, path, size, stars=None):
        obj = {
            "commit": f"c{lsn}",
            "lang": "py",
            "content_z": base64.b64encode(
                zlib.compress(f"{path}@{lsn}".encode())
            ).decode(),
            "size_scale": 0,
            "size_value": base64.b64encode(
                size.to_bytes(8, "big", signed=True)
            ).decode(),
        }
        if stars is not None:
            obj["stars"] = stars
        return Event(lsn, "u", "file_upsert", repo, path, json.dumps(obj),
                     arrival=float(lsn), ts_ms=lsn)

    def ddl(lsn, payload):
        return Event(lsn, "u", "schema_change", None, None,
                     json.dumps(payload), arrival=float(lsn), ts_ms=lsn)

    big_stars = 2**53 + 1  # not a float64
    preload = [
        up(1, "old.py", 10),
        ddl(2, {"action": "add", "name": "stars", "type": "bigint"}),
        ddl(3, {"action": "widen", "name": "size_bytes", "type": "bigint"}),
        up(4, "big.py", 6_000_000_000),  # stars null
        up(5, "star.py", 3_000_000_000, stars=big_stars),
    ]
    batch = [
        up(10, "fresh.py", 8_000_000_000),  # stars null
        mv(11, "big.py", "big2.py"),
        mv(12, "star.py", "star2.py"),
        mv(13, "fresh.py", "fresh2.py"),
        mv(14, "old.py", "old2.py"),
    ]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        table = build_table(spark, str(tmp_path / "lake"), buckets=4)
        pl.apply_batch(
            spark, table, read_log(spark, tmp_path, "ev0", preload), batch_id=0
        )
        res = pl.apply_batch(
            spark, table, read_log(spark, tmp_path, "ev1", batch), batch_id=1
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert res["n_renames"] == 4
    expected, cols = oracle_state(preload + batch)
    assert "stars" in cols
    got = table_state(table)
    assert got == expected
    sizes = {
        r["path"]: (r["size_bytes"], r["stars"])
        for r in table.read().collect()
    }
    assert sizes == {
        "big2.py": (6_000_000_000, None),
        "star2.py": (3_000_000_000, big_stars),
        "fresh2.py": (8_000_000_000, None),
        "old2.py": (10, None),
    }
