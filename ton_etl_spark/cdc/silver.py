"""Silver-table fan-out: per-event-type parsers writing separate silver
tables from the same change stream.

The reference registers 33 parsers that decode Kafka change events into
~20 `parsed.*` Postgres tables (parser/parsers/__init__.py:35-84,
database/createdb.sql). This module is that fan-out for the rebuild's
synthetic domain: three fact event types, each with a distinct
vectorized decoder, each landing in its own LakeTable with the same
exactly-once protocol as the main repos table (per-table batch_id
guard + in-batch key dedup + insert-idempotent merge — the analogue of
`ON CONFLICT DO NOTHING` event tables, reference db.py:197-222):

  * trade_event    -> trades   (Debezium decimal(38,0) amounts up to
                     2^120 — athena_ddl.sql:84,332-338; the dex_swap /
                     jetton_transfer analogue)
  * metadata_event -> metadata (CSV->struct `sources` field, the
                     jetton_metadata converter analogue, P6 —
                     datalake/converters/jetton_metadata.py:26-35)
  * comment_event  -> comments (zlib+base64 text decode + JVM-side text
                     stats — the message_comments / decode_comment
                     analogue, parsers/message/decode_comment.py:27-35)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..lake.merge import batch_stats, merge_into
from ..lake.table import LakeTable
from .parsers import csv_struct, debezium_decimal, debezium_double, unpack_zb64

# wire schemas ---------------------------------------------------------------

TRADE_WIRE = T.StructType(
    [
        T.StructField("asset", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("amount_scale", T.IntegerType()),
        T.StructField("amount_value", T.StringType()),
        T.StructField("price_scale", T.IntegerType()),
        T.StructField("price_value", T.StringType()),
    ]
)

METADATA_WIRE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("sources_csv", T.StringType()),
    ]
)

COMMENT_WIRE = T.StructType(
    [
        T.StructField("text_z", T.StringType()),
    ]
)

SOURCES_FIELDS = ["jetton", "admin", "metadata", "image", "symbol_src", "decimals_src"]

# silver table schemas -------------------------------------------------------

TRADES_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.LongType(), False),   # = event lsn
        T.StructField("lsn", T.LongType(), False),
        T.StructField("ts_s", T.LongType(), True),
        T.StructField("asset", T.StringType(), True),
        T.StructField("side", T.StringType(), True),
        T.StructField("amount", T.DecimalType(38, 0), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)

METADATA_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("symbol", T.StringType(), True),
        T.StructField(
            "sources",
            T.StructType([T.StructField(f, T.StringType(), True) for f in SOURCES_FIELDS]),
            True,
        ),
    ]
)

COMMENTS_SCHEMA = T.StructType(
    [
        T.StructField("comment_id", T.LongType(), False),  # = event lsn
        T.StructField("lsn", T.LongType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_tokens", T.IntegerType(), True),
    ]
)

# vectorized decoders --------------------------------------------------------


def parse_trades(events: DataFrame) -> DataFrame:
    p = F.from_json("payload", TRADE_WIRE)
    return events.select(
        F.col("lsn").alias("trade_id"),
        "lsn",
        (F.col("ts_ms") / 1000).cast("long").alias("ts_s"),
        p.getField("asset").alias("asset"),
        p.getField("side").alias("side"),
        debezium_decimal(p.getField("amount_value"), p.getField("amount_scale")).alias(
            "amount"
        ),
        debezium_double(p.getField("price_value"), p.getField("price_scale")).alias(
            "price"
        ),
        F.lit("c").alias("op"),
    )


def parse_metadata(events: DataFrame) -> DataFrame:
    p = F.from_json("payload", METADATA_WIRE)
    return events.select(
        "repo",
        "lsn",
        p.getField("name").alias("name"),
        p.getField("symbol").alias("symbol"),
        csv_struct(p.getField("sources_csv"), SOURCES_FIELDS).alias("sources"),
        F.lit("u").alias("op"),  # metadata is a state table: LWW by lsn
    )


def parse_comments(events: DataFrame) -> DataFrame:
    p = F.from_json("payload", COMMENT_WIRE)
    text = unpack_zb64(p.getField("text_z"))
    return events.select(
        F.col("lsn").alias("comment_id"),
        "lsn",
        "repo",
        text.alias("text"),
        F.lit("c").alias("op"),
    ).withColumn(
        "n_tokens",
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        ).cast("int"),
    )


# fan-out driver -------------------------------------------------------------


@dataclass
class SilverSpec:
    name: str
    event_type: str
    schema: T.StructType
    key_fields: list[str]
    parse: Callable[[DataFrame], DataFrame]
    # the key values as expressions over the RAW events (same types as
    # the parsed keys): the pipeline's control aggregation computes
    # this table's merge stats from them
    raw_keys: Callable[[], list["F.Column"]]
    # E8: optional enrichment hook — a callable producing the uri Column
    # to resolve for each parsed row. Active only when the fanout is
    # constructed with resolvers; the stage degrades NonCritically
    # (failures set enrich_error, never drop the row — reference
    # jetton_metadata.py:39-65 fallback-chain semantics).
    enrich_uri: Callable[[], "F.Column"] | None = None


SILVER_SPECS = [
    SilverSpec(
        "trades", "trade_event", TRADES_SCHEMA, ["trade_id"], parse_trades,
        lambda: [F.col("lsn")],
    ),
    SilverSpec(
        "metadata", "metadata_event", METADATA_SCHEMA, ["repo"], parse_metadata,
        lambda: [F.col("repo")],
        enrich_uri=lambda: F.concat(
            F.lit("ipfs://"), F.col("sources").getField("image")
        ),
    ),
    SilverSpec(
        "comments", "comment_event", COMMENTS_SCHEMA, ["comment_id"],
        parse_comments, lambda: [F.col("lsn")],
    ),
]


class SilverFanout:
    """Owns one LakeTable per registered silver spec and applies each
    micro-batch to all of them (exactly-once per table via its own
    batch_id guard)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        specs: list[SilverSpec] | None = None,
        bucket_count: int = 8,
        enrich_resolvers=None,   # list[(name, Resolver)] -> E8 stage ON
        enrich_retries: int = 2,
    ):
        from ..operators.enrichment import ENRICHED_FIELDS

        self.spark = spark
        self.specs = specs or SILVER_SPECS
        self.enrich_resolvers = enrich_resolvers
        self.enrich_retries = enrich_retries
        self.tables: dict[str, LakeTable] = {}
        for s in self.specs:
            schema = s.schema
            if enrich_resolvers is not None and s.enrich_uri is not None:
                schema = T.StructType(list(schema.fields) + ENRICHED_FIELDS)
            path = f"{root}/{s.name}"
            try:
                self.tables[s.name] = LakeTable.create(
                    spark, path, schema, s.key_fields, "lsn",
                    bucket_count=bucket_count,
                )
            except FileExistsError:
                table = LakeTable(spark, path)
                if enrich_resolvers is not None and s.enrich_uri is not None:
                    # The table may predate enrichment (created without
                    # resolvers): merge_into aligns by NAME, so missing
                    # enrichment columns would be SILENTLY dropped from
                    # every batch. Sync the schema with
                    # idempotent metadata-only ADD COLUMN IF NOT EXISTS
                    # commits instead.
                    have = {f.name for f in table.schema().fields}
                    for fld in ENRICHED_FIELDS:
                        if fld.name not in have:
                            table.add_column(
                                fld.name, fld.dataType.simpleString()
                            )
                self.tables[s.name] = table

    def control_stats(self, mature: "F.Column") -> dict[str, "F.Column"]:
        """Per table: its merge stats as one aggregate column over the
        raw events (lake/merge.py `batch_stats`), for the pipeline's
        control aggregation."""
        return {
            s.name: batch_stats(
                mature & (F.col("event_type") == s.event_type),
                self.tables[s.name].bucket_expr(keys=s.raw_keys()),
            )
            for s in self.specs
        }

    def apply(
        self,
        events: DataFrame,
        batch_id: int | None,
        types_present: set[str] | None = None,
        precomputed: dict[str, dict] | None = None,
    ) -> dict:
        """Merge each spec's parsed events into its table. `precomputed`
        maps a table name to its `control_stats` values, which spare
        that merge its own persist and stats job."""
        from ..operators.enrichment import enrich

        out = {}
        for s in self.specs:
            if types_present is not None and s.event_type not in types_present:
                continue  # zero jobs for absent event types
            sub = events.filter(F.col("event_type") == s.event_type)
            parsed = s.parse(sub)
            if self.enrich_resolvers is not None and s.enrich_uri is not None:
                parsed = enrich(
                    parsed.withColumn("_uri", s.enrich_uri()),
                    "_uri",
                    resolvers=self.enrich_resolvers,
                    retries=self.enrich_retries,
                ).drop("_uri")
            out[s.name] = merge_into(
                self.tables[s.name], parsed, batch_id=batch_id,
                precomputed=(precomputed or {}).get(s.name),
            )
        return out
