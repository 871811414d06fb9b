"""The benchmark's traced runs time a layer by wrapping its entry point
at the name the caller looks up at call time: `merge_into` and
`_resolve_renames` as globals of `ton_etl_spark.cdc.pipeline`, and
`HotKeyMonitor.salt_for` on the class. A refactor that binds one of them
early (a local import, a default argument, a cached bound method) would
silently zero that layer's numbers; this test pins the lookups."""

import json

from ton_etl_spark.cdc import pipeline
from ton_etl_spark.cdc.skew import HotKeyMonitor
from ton_etl_spark.datagen import Event, encode_payload, write_event_log
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    REPOS_KEY_FIELDS,
    REPOS_SCHEMA,
)


def test_layer_entry_points_looked_up_at_call_time(spark, tmp_path, monkeypatch):
    calls = {}

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(
        pipeline, "merge_into", counting("merge_into", pipeline.merge_into)
    )
    monkeypatch.setattr(
        pipeline, "_resolve_renames",
        counting("_resolve_renames", pipeline._resolve_renames),
    )
    monkeypatch.setattr(
        HotKeyMonitor, "salt_for", counting("salt_for", HotKeyMonitor.salt_for)
    )

    repo = "org0/repo0"
    events = [
        Event(10, "c", "file_upsert", repo, "a.py",
              encode_payload(repo, "a.py", 10, False, False, False),
              arrival=10.0, ts_ms=10),
        Event(20, "u", "file_rename", repo, "a.py",
              json.dumps({"new_path": "b.py"}), arrival=20.0, ts_ms=20),
    ]
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, 1)
    ev = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=4,
    )

    res = pipeline.apply_batch(
        spark, table, ev, batch_id=0,
        monitor=HotKeyMonitor(table.key_fields()),
    )
    assert calls == {"merge_into": 1, "_resolve_renames": 1, "salt_for": 1}
    assert res["n_renames"] == 1
    assert {r["path"] for r in table.read().collect()} == {"b.py"}
