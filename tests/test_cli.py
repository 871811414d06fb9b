"""`python -m ton_etl_spark` CLI (the spark-submit --py-files entry
surface) driven in-process: gen -> init -> replay -> verify -> history
-> feed, each command's JSON summary parsed from stdout. get_spark's
getOrCreate reuses the test session, so no extra JVM spins up."""

import json

from ton_etl_spark.__main__ import main
from ton_etl_spark.lake.merge import merge_into
from ton_etl_spark.lake.table import LakeTable


def _run(capsys, *argv):
    rc = main(list(argv))
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0, argv
    return [json.loads(line) for line in out if line.startswith("{")]


def test_cli_gen_init_replay_verify_feed(spark, tmp_path, capsys):
    ev = str(tmp_path / "events")
    lake = str(tmp_path / "lake")

    (g,) = _run(capsys, "gen", "--out", ev, "--events", "1200")
    assert g["files"] > 0

    (i,) = _run(capsys, "init", "--lake", lake, "--buckets", "8")
    assert i["version"] == 0

    (r,) = _run(capsys, "replay", "--lake", lake, "--events", ev)
    assert r["batches"] == 1 and r["version"] >= 1

    (v,) = _run(capsys, "verify", "--lake", lake, "--events", ev)
    assert v["parity"] is True and v["rows"] == v["oracle_rows"] > 0

    hist = _run(capsys, "history", "--lake", lake)
    assert [h["version"] for h in hist][:2] == [0, 1]
    merges = [h for h in hist if h["lineage"].get("type") == "merge"]
    assert merges and all(
        h["mode"] == "rewrite" and h["delta_files"] == h["delta_rows"] == 0
        for h in merges
    )
    assert hist[0]["mode"] is None   # the create commit writes no data

    # a batch narrow next to the table's buckets lands as a delta
    table = LakeTable(spark, lake)
    row = table.read().select("repo", "path", "lsn").limit(1).collect()[0]
    merge_into(table, spark.createDataFrame(
        [(row["repo"], row["path"], row["lsn"] + 10**9, "d")],
        "repo string, path string, lsn long, op string",
    ), batch_id=10**6)
    last = _run(capsys, "history", "--lake", lake)[-1]
    assert (last["mode"], last["delta_files"], last["delta_rows"]) == ("delta", 1, 1)
    assert last["lineage"]["strategy"] == "union_agg"

    (f,) = _run(capsys, "feed", "--lake", lake, "--since", "0")
    assert f["rows"] > 0
