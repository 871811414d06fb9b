"""Ingest-time curation feed: CDC lake table → incremental content
dedup → novel-content table, exactly-once end to end.

Composes three existing layers into the pipeline a training-data
platform actually runs on top of CDC ingest:

    ChangeFeedConsumer  (version-cursor tail of the main lake table)
        → DedupIndex    (delta-vs-history exact content dedup)
        → LakeTable     (novel-content sink, idempotent merge)

Each poll consumes EXACTLY ONE source commit (max_versions=1), so the
DedupIndex batch id — the source version number — is stable across
crash re-polls: a crash after the index commit but before the sink
merge (or before the cursor commit) redelivers the same version, the
index replays the original novel set from provenance, and the guarded
sink merge heals. Carried rows redelivered by copy-on-write bucket
rewrites are absorbed by the index (their content was first-indexed by
an earlier version).

The sink holds the FIRST occurrence of every distinct content sha ever
committed to the source table: (content_sha PK, repo, path, lsn). At
100 TB this is the dedup manifest a curation pipeline feeds to
training-set assembly — built incrementally, never by rescanning the
corpus.

Reference analogue: the dwh/datamart consumers re-reading exporter
topics into warehouse tables (re-doubt/ton-etl README datalake→dwh
flow); the content-dedup step itself has no reference analogue (the
reference stores every row and lets Postgres ON CONFLICT handle key
collisions only, db.py:249-269).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..lake.consumer import ChangeFeedConsumer
from ..lake.dedup_index import DedupIndex
from ..lake.merge import merge_into
from ..lake.table import LakeTable

SINK_SCHEMA = T.StructType(
    [
        T.StructField("content_sha", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
    ]
)


class NovelContentFeed:
    """Maintains a novel-content table over a source LakeTable's
    change feed. `poll_once()` per source commit; `run()` to drain."""

    def __init__(
        self,
        spark,
        source: LakeTable,
        root: str,
        content_col: str = "content",
        bucket_count: int = 16,
    ):
        self.spark = spark
        self.source = source
        self.content_col = content_col
        # start after version 0 — the empty table-creation commit
        # writes no files and would otherwise cost one no-op delivery
        self.consumer = ChangeFeedConsumer(
            source, f"{root}/cursor", start_after=0
        )
        try:
            self.index = DedupIndex.create(
                spark, f"{root}/index", bucket_count=bucket_count
            )
        except FileExistsError:
            self.index = DedupIndex.open(spark, f"{root}/index")
        try:
            self.sink = LakeTable.create(
                spark, f"{root}/novel", SINK_SCHEMA,
                key_fields=["content_sha"], version_field="lsn",
                bucket_count=bucket_count,
            )
        except FileExistsError:
            self.sink = LakeTable(spark, f"{root}/novel")

    def _handle(self, feed: DataFrame, version: int) -> None:
        live = feed
        if "_deleted" in feed.columns:
            live = feed.filter(
                ~F.coalesce(F.col("_deleted"), F.lit(False))
            )
        live = live.filter(F.col(self.content_col).isNotNull())
        # id = lsn (unique per event); within-delivery content dups
        # collapse to the smallest lsn — the earliest writer wins the
        # provenance slot, deterministically
        novel = self.index.filter_novel(
            live, "lsn", self.content_col, batch_id=version
        )
        updates = novel.select(
            F.sha2(F.col(self.content_col).cast("string"), 256).alias(
                "content_sha"
            ),
            "repo",
            "path",
            F.col("lsn").cast("long").alias("lsn"),
            F.lit("c").alias("op"),
        )
        merge_into(self.sink, updates, batch_id=version)

    def poll_once(self) -> dict:
        """Consume the next source commit (if any) through the dedup
        index into the sink; returns the consumer's poll result."""
        version = self.consumer.cursor() + 1
        return self.consumer.poll(
            lambda feed: self._handle(feed, version), max_versions=1
        )

    def run(self, max_polls: int | None = None) -> int:
        """Drain the feed (bounded by max_polls); returns polls that
        delivered."""
        n = 0
        while max_polls is None or n < max_polls:
            if not self.poll_once()["delivered"]:
                break
            n += 1
        return n
