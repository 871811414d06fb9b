"""NovelContentFeed: change feed → DedupIndex → novel-content sink,
exactly-once under redelivery and crash re-polls."""

import os

import pytest
from pyspark.sql import functions as F, types as T

from ton_etl_spark.cdc.curation import NovelContentFeed
from ton_etl_spark.lake import LakeTable
from ton_etl_spark.lake.merge import merge_into

SRC_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


@pytest.fixture()
def source(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "src"), SRC_SCHEMA,
        key_fields=["repo", "path"], version_field="lsn", bucket_count=4,
    )


def _commit(spark, table, rows, batch_id):
    df = spark.createDataFrame(
        rows, "repo string, path string, lsn long, content string, op string"
    )
    merge_into(table, df, batch_id=batch_id)


def _sink_rows(feed):
    return {
        r["content_sha"][:8]: (r["repo"], r["path"], r["lsn"])
        for r in feed.sink.read().collect()
    }


def _sha8(spark, s):
    return spark.sql(f"SELECT sha2('{s}', 256) AS h").collect()[0]["h"][:8]


def test_first_occurrence_per_content(spark, tmp_path, source):
    _commit(spark, source, [("r1", "p1", 1, "A", "c"),
                            ("r1", "p2", 2, "B", "c")], 1)
    _commit(spark, source, [("r2", "p1", 3, "A", "c"),      # dup content
                            ("r2", "p2", 4, "C", "c")], 2)
    _commit(spark, source, [("r1", "p1", 5, None, "d"),     # delete
                            ("r3", "p1", 6, "B", "c")], 3)  # dup content
    feed = NovelContentFeed(spark, source, str(tmp_path / "feed"),
                            bucket_count=4)
    assert feed.run() == 3
    got = _sink_rows(feed)
    assert got == {
        _sha8(spark, "A"): ("r1", "p1", 1),
        _sha8(spark, "B"): ("r1", "p2", 2),
        _sha8(spark, "C"): ("r2", "p2", 4),
    }


def test_crash_before_cursor_commit_heals(spark, tmp_path, source):
    _commit(spark, source, [("r1", "p1", 1, "A", "c")], 1)
    _commit(spark, source, [("r2", "p1", 2, "A", "c"),
                            ("r2", "p2", 3, "D", "c")], 2)
    feed = NovelContentFeed(spark, source, str(tmp_path / "feed"),
                            bucket_count=4)
    assert feed.run() == 2
    before = _sink_rows(feed)
    sink_v = feed.sink.current_version()
    idx_v = feed.index.table.current_version()
    # simulate a crash between delivery and cursor commit: rewind the
    # cursor and re-poll — the index replays, the sink merge skips
    os.remove(feed.consumer._cursor_path)
    assert feed.run() == 2
    assert _sink_rows(feed) == before
    assert feed.sink.current_version() == sink_v
    assert feed.index.table.current_version() == idx_v


def test_within_delivery_dup_keeps_smallest_lsn(spark, tmp_path, source):
    _commit(spark, source, [("r1", "p1", 9, "X", "c"),
                            ("r1", "p2", 4, "X", "c")], 1)
    feed = NovelContentFeed(spark, source, str(tmp_path / "feed"),
                            bucket_count=4)
    feed.run()
    assert _sink_rows(feed) == {_sha8(spark, "X"): ("r1", "p2", 4)}


def test_consumer_max_versions_clamp(spark, tmp_path, source):
    _commit(spark, source, [("r1", "p1", 1, "A", "c")], 1)
    _commit(spark, source, [("r1", "p2", 2, "B", "c")], 2)
    feed = NovelContentFeed(spark, source, str(tmp_path / "feed"),
                            bucket_count=4)
    r = feed.poll_once()
    assert r["delivered"] and r["cursor"] == 1
    assert len(_sink_rows(feed)) == 1
    r = feed.poll_once()
    assert r["delivered"] and r["cursor"] == 2
    assert len(_sink_rows(feed)) == 2
    assert not feed.poll_once()["delivered"]


def test_pipeline_novel_sink_e2e_with_kill_between_commits(spark, tmp_path):
    """CdcPipeline(novel_feed=...) runs the curation feed inside the
    same foreachBatch epoch. Kill the pipeline in
    the window BETWEEN the main-table commit and the index commit, then
    restart from the checkpoint: the redelivered batch skips the main
    merge (batch guard) and the feed drains the missed version — final
    novel sink identical to a crash-free run."""
    from ton_etl_spark.cdc.pipeline import CdcPipeline
    from ton_etl_spark.datagen import GenParams, generate_events, write_event_log
    from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    p = GenParams(n_events=1200, n_repos=10, paths_per_repo=8, n_files=6)
    log_dir = str(tmp_path / "events")
    write_event_log(generate_events(p), log_dir, p.n_files)

    def run(tag, kill_at_batch=None):
        table = LakeTable.create(
            spark, str(tmp_path / f"lake_{tag}"), REPOS_SCHEMA,
            REPOS_KEY_FIELDS, "lsn", bucket_count=4,
        )
        feed_root = str(tmp_path / f"feed_{tag}")
        feed = NovelContentFeed(spark, table, feed_root, bucket_count=4)
        pipe = CdcPipeline(
            spark, table, log_dir, str(tmp_path / f"cp_{tag}"),
            max_files_per_trigger=2, novel_feed=feed,
        )
        if kill_at_batch is not None:
            real_run = feed.run
            state = {"n": 0}

            def killing_run(*a, **k):
                state["n"] += 1
                if state["n"] == kill_at_batch:
                    # main-table commit for this epoch already happened
                    # in apply_batch; the feed has NOT touched the index
                    raise RuntimeError("killed before index commit")
                return real_run(*a, **k)

            feed.run = killing_run
            with pytest.raises(Exception, match="killed before index"):
                pipe.run_streaming()
            feed.run = real_run
            # restart: fresh pipeline + reopened feed over the same roots
            table2 = LakeTable(spark, str(tmp_path / f"lake_{tag}"))
            feed2 = NovelContentFeed(spark, table2, feed_root, bucket_count=4)
            pipe2 = CdcPipeline(
                spark, table2, log_dir, str(tmp_path / f"cp_{tag}"),
                max_files_per_trigger=2, novel_feed=feed2,
            )
            pipe2.run_streaming()
            return table2, feed2
        pipe.run_streaming()
        return table, feed

    clean_table, clean_feed = run("clean")
    crash_table, crash_feed = run("crash", kill_at_batch=2)

    # main tables identical
    def state(t):
        return sorted(
            map(tuple, t.read().select("repo", "path", "lsn",
                                       F.sha2("content", 256)).collect())
        )

    assert state(crash_table) == state(clean_table)
    # novel sinks identical (the e2e ask: index + sink healed)
    assert _sink_rows(crash_feed) == _sink_rows(clean_feed)
    assert len(_sink_rows(clean_feed)) > 0
    # and the feed is fully drained (cursor at the table head)
    assert crash_feed.consumer.cursor() == crash_table.current_version()


def test_reopen_resumes_from_cursor(spark, tmp_path, source):
    _commit(spark, source, [("r1", "p1", 1, "A", "c")], 1)
    root = str(tmp_path / "feed")
    feed = NovelContentFeed(spark, source, root, bucket_count=4)
    assert feed.run() == 1
    _commit(spark, source, [("r1", "p2", 2, "E", "c")], 2)
    feed2 = NovelContentFeed(spark, source, root, bucket_count=4)
    assert feed2.run() == 1
    assert len(_sink_rows(feed2)) == 2
