"""End-to-end CDC replay parity: pipeline vs sequential Python oracle.

The BASELINE.json invariant: after replaying the full change-event log
(duplicates, out-of-order arrival, deletes, renames, schema evolution,
malformed rows), the lake table matches the oracle row-for-row with
sha256(content) equality.
"""

import dataclasses
import hashlib

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.datagen import GenParams, generate_events, write_event_log
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.oracle import reduce_events, state_hashes
from ton_etl_spark.cdc.pipeline import CdcPipeline
from ton_etl_spark.schemas import REPOS_SCHEMA, REPOS_KEY_FIELDS


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
    import json

    import ton_etl_spark.cdc.pipeline as pl
    from ton_etl_spark.datagen import Event, encode_payload
    from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    repo = "org0/repo0"

    def up(lsn, path):
        return Event(lsn, "u", "file_upsert", repo, path,
                     encode_payload(repo, path, lsn, False, False, False),
                     arrival=float(lsn), ts_ms=lsn)

    def mv(lsn, path, new_path):
        return Event(lsn, "u", "file_rename", repo, path,
                     json.dumps({"new_path": new_path}),
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

    def read_log(name, evs):
        log_dir = str(tmp_path / name)
        write_event_log(evs, log_dir, 1)
        return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    monkeypatch.setattr(pl, "MAX_CHAIN_PROVENANCE_ROWS", 3)
    try:
        table = build_table(spark, str(tmp_path / "lake"), buckets=4)
        pl.apply_batch(spark, table, read_log("ev0", preload), batch_id=0)
        res = pl.apply_batch(spark, table, read_log("ev1", batch), batch_id=1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert res["n_renames"] == 7  # rename events, duplicate included
    assert res["n_chained_renames"] == 3  # the swap cycle
    expected, _ = oracle_state(preload + batch)
    assert set(expected) == {(repo, p) for p in ("q.py", "a.py", "b.py", "v.py")}
    assert table_state(table) == expected
