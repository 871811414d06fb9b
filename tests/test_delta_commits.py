"""Merge-on-read delta commits: a batch narrow next to the buckets it
touches appends its winners as delta files; reads resolve base + deltas
per key; rewrites and maintenance fold them.

The oracle check drives `apply_batch` through many narrow commits with
every event shape that reaches a delta row (deletes, duplicate
deliveries, an equal-LSN redelivery the stored row must win, late
older-LSN events, renames whose old key lives only in a delta) and
compares the table with the sequential oracle after each phase."""

import dataclasses
import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.cdc import pipeline
from ton_etl_spark.datagen import Event, encode_payload
from ton_etl_spark.lake.merge import merge_into
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.oracle import reduce_events, state_hashes
from ton_etl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    REPOS_KEY_FIELDS,
    REPOS_SCHEMA,
)

from test_merge_unit import live, mk_table, upd


def _events_df(spark, events):
    rows = [
        {k: v for k, v in dataclasses.asdict(e).items() if k != "arrival"}
        for e in events
    ]
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def _state(table):
    cols = ["lsn", "commit", "lang", "size_bytes"]
    return {
        (r["repo"], r["path"]): (r["sha"], tuple(r[c] for c in cols))
        for r in table.read().select(
            "repo", "path", F.sha2("content", 256).alias("sha"), *cols
        ).collect()
    }


def _expected(delivered):
    st, cols = reduce_events([dataclasses.asdict(e) for e in delivered])
    return state_hashes(st, cols)


class _Stream:
    """Narrow change batches over a preloaded key space. LSNs of fresh
    events step by 10, so a late event (latest - 5) never collides."""

    def __init__(self, seed, n_keys):
        self.rng = random.Random(seed)
        self.lsn = 0
        self.latest = {}      # live key -> lsn of its latest write
        self.used = set()
        self.renamed_from = set()
        self.created = set()  # keys first written by a narrow batch
        self.delivered = []   # every event, in delivery order
        self.n_keys = n_keys

    def _up(self, key, lsn, content_lsn=None):
        return Event(lsn, "u", "file_upsert", key[0], key[1],
                     encode_payload(key[0], key[1], content_lsn or lsn,
                                    False, False, False),
                     arrival=0.0)

    def _fresh(self):
        self.lsn += 10
        self.used.add(self.lsn)
        return self.lsn

    def preload(self):
        out = []
        for i in range(self.n_keys):
            key = (f"r{i % 13}", f"p{i}")
            lsn = self._fresh()
            e = self._up(key, lsn)
            e.op = "r"
            out.append(e)
            self.latest[key] = lsn
        self.delivered += out
        return out

    def batch(self, size):
        rng, out, touched = self.rng, [], set()
        previous = list(self.delivered)
        while len(out) < size:
            kind = rng.choice(
                ["up", "up", "new", "del", "dup", "tie", "late", "ren"]
            )
            live_keys = sorted(k for k in self.latest if k not in touched)
            key = rng.choice(live_keys) if live_keys else None
            if kind == "new" or key is None:
                key = (f"r{rng.randrange(13)}", f"n{self.lsn}")
                lsn = self._fresh()
                out.append(self._up(key, lsn))
                self.latest[key] = lsn
                self.created.add(key)
            elif kind == "up":
                lsn = self._fresh()
                out.append(self._up(key, lsn))
                self.latest[key] = lsn
            elif kind == "del":
                lsn = self._fresh()
                out.append(Event(lsn, "d", "file_delete", key[0], key[1],
                                 None, arrival=0.0))
                del self.latest[key]
            elif kind == "dup":
                # at-least-once: an exact copy of an earlier delivery
                out.append(dataclasses.replace(rng.choice(previous)))
                continue
            elif kind == "tie":
                # same key and LSN as a delivered upsert, other content:
                # the stored row must win (the oracle keeps the first)
                ups = [e for e in previous if e.event_type == "file_upsert"]
                e = rng.choice(ups)
                out.append(self._up((e.repo, e.path), e.lsn, e.lsn + 1))
                continue
            elif kind == "late":
                if key in self.renamed_from or self.latest[key] - 5 in self.used:
                    continue
                lsn = self.latest[key] - 5
                self.used.add(lsn)
                out.append(self._up(key, lsn))
            elif kind == "ren":
                # prefer an old key whose rows all live in deltas
                fresh = sorted(self.created & set(live_keys))
                key = rng.choice(fresh) if fresh else key
                new = (key[0], f"m{self.lsn}")
                lsn = self._fresh()
                out.append(Event(lsn, "u", "file_rename", key[0], key[1],
                                 json.dumps({"new_path": new[1]}),
                                 arrival=0.0))
                self.renamed_from.add(key)
                self.latest[new] = lsn
                del self.latest[key]
                touched.add(new)
            touched.add(key)
        self.delivered += out
        return out


def test_narrow_commits_match_oracle_through_folds(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=8,
    )
    stream = _Stream(seed=13, n_keys=160)
    pipeline.apply_batch(spark, table, _events_df(spark, stream.preload()),
                         batch_id=0)
    for b in range(1, 27):
        pipeline.apply_batch(spark, table, _events_df(spark, stream.batch(10)),
                             batch_id=b)
    expected = _expected(stream.delivered)
    assert _state(table) == expected

    modes = [
        h["lineage"]["mode"] for h in table.history()
        if h["lineage"].get("type") == "merge"
    ]
    # the preload rewrites; narrow batches append deltas until the
    # delta rows reach the base rows, when a merge folds them
    assert modes[0] == "rewrite" and modes.count("delta") >= 20
    assert "rewrite" in modes[1:]
    assert table.manifest()["deltas"]

    # the version feed of a delta commit is exactly its delta rows
    v = table.current_version()
    lin = table.history()[-1]["lineage"]
    assert lin["mode"] == "delta"
    assert table.read_version_changes(v - 1).count() == lin["delta"]["rows"]

    table.compact()
    assert table.manifest()["deltas"] == {}
    assert _state(table) == expected

    for b in range(27, 30):
        pipeline.apply_batch(spark, table, _events_df(spark, stream.batch(10)),
                             batch_id=b)
    assert table.manifest()["deltas"]
    table.rebucket(16)
    assert table.manifest()["deltas"] == {}
    assert _state(table) == _expected(stream.delivered)


def _wide_then_narrow(spark, t):
    merge_into(t, upd(spark, [
        {"repo": f"r{i % 5}", "path": f"p{i}", "lsn": i + 1, "op": "c",
         "content": f"v{i}"}
        for i in range(60)
    ]), batch_id=1)
    return upd(spark, [
        {"repo": "r0", "path": "p0", "lsn": 100, "op": "u", "content": "new"},
        {"repo": "r1", "path": "p1", "lsn": 101, "op": "d"},
        {"repo": "r9", "path": "fresh", "lsn": 102, "op": "c", "content": "f"},
    ])


def test_replayed_delta_batch_is_skipped(spark, tmp_path):
    t = mk_table(spark, tmp_path, buckets=4)
    narrow = _wide_then_narrow(spark, t)
    res = merge_into(t, narrow, batch_id=2)
    assert res["mode"] == "delta"
    m = t.manifest()
    again = merge_into(t, narrow, batch_id=2)
    assert again["skipped"] and t.current_version() == m["version"]
    assert t.manifest()["deltas"] == m["deltas"]
    state = live(t)
    assert state[("r0", "p0")] == (100, "new") and ("r1", "p1") not in state
    assert state[("r9", "fresh")] == (102, "f") and len(state) == 60


@pytest.mark.parametrize("mode", ["delta", "rewrite"])
def test_kill_between_file_write_and_manifest_swap(spark, tmp_path, monkeypatch,
                                                   mode):
    t = mk_table(spark, tmp_path, buckets=4)
    batch = _wide_then_narrow(spark, t)
    if mode == "rewrite":   # more rows than the table: rewrites buckets
        batch = batch.unionByName(upd(spark, [
            {"repo": "r0", "path": "p0", "lsn": 40 + i, "op": "u", "content": "o"}
            for i in range(60)
        ]))
    before, v = live(t), t.current_version()
    real_commit = LakeTable.commit

    def killed(self, manifest, metrics=None):
        raise KeyboardInterrupt("killed before the manifest swap")

    monkeypatch.setattr(LakeTable, "commit", killed)
    with pytest.raises(KeyboardInterrupt):
        merge_into(t, batch, batch_id=2)
    monkeypatch.setattr(LakeTable, "commit", real_commit)

    # the written files are on disk but unreferenced: readers see v
    vdir = os.path.join(t.root, "data", f"v{v + 1}")
    (dead,) = os.listdir(vdir)
    assert t.current_version() == v and live(t) == before

    # the replay writes afresh beside the dead attempt and converges
    res = merge_into(t, batch, batch_id=2)
    assert res["mode"] == mode and t.current_version() == v + 1
    state = live(t)
    assert state[("r0", "p0")] == (100, "new") and ("r1", "p1") not in state
    assert state[("r9", "fresh")] == (102, "f") and len(state) == 60
    m = t.manifest()
    listed = [*m["deltas"], *(p for fl in m["buckets"].values() for p in fl)]
    assert not any(p.startswith(os.path.join("data", f"v{v + 1}", dead)) for p in listed)
    # vacuum removes the dead attempt's files, the commit stays readable
    assert t.vacuum(keep_last=1) >= 1
    assert live(t) == state


def test_delta_target_scan_reads_only_keys_and_version(spark, tmp_path,
                                                       monkeypatch):
    """A delta emits no target row, so its target scan reads the keys
    and the version field, never the payload columns."""
    t = mk_table(spark, tmp_path, buckets=4)
    narrow = _wide_then_narrow(spark, t)
    plans = []
    real = LakeTable._commit_data

    def capture(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_commit_data", capture)
    assert merge_into(t, narrow, batch_id=2)["mode"] == "delta"
    phys = {f["name"]: f"f{f['id']}" for f in t.manifest()["fields"]}
    (read,) = {
        tuple(c.split(":")[0] for c in s.split(","))
        for s in re.findall(r"ReadSchema: struct<([^>]*)>", plans[0])
    }
    assert set(read) == {phys["repo"], phys["path"], phys["lsn"]}
    assert live(t)[("r0", "p0")] == (100, "new")
