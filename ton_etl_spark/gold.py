"""Continuous gold/datamart maintenance from the streaming pipeline.

The reference recomputes `prices.agg_prices` (a trailing-window
volume-weighted decayed average price per asset) on every qualifying
swap, inside the realtime parser path (db.py:447-470 SQL, triggered by
price_discovery.py:100). This module is that trigger re-expressed for
micro-batches:

  after each batch's silver `trades` merge, the windows touched by the
  batch are recomputed FROM the silver table (one semi-join + one hash
  aggregation over only the affected (asset, window) groups) and merged
  into the gold table — incremental view maintenance by affected-group
  recompute, which is exactly the reference's "recompute agg_prices for
  this swap's window" strategy, batched.

Exactly-once: the gold LakeTable carries its own batch_id guard; the
recompute is a pure function of silver state, so a crash-and-replay
between silver and gold commits converges (silver merge skips, gold
recompute reads the same silver state and produces the same rows).
The recompute rows carry the batch's max LSN as their version, so a
replayed recompute can never regress a newer gold row (LWW guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .lake.merge import batch_stats, merge_into
from .lake.table import LakeTable
from .operators.decayed import time_decayed_avg

GOLD_PRICE_SCHEMA = T.StructType(
    [
        T.StructField("asset", T.StringType(), False),
        T.StructField("window_start", T.LongType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("decayed_avg", T.DoubleType(), True),
        T.StructField("n_obs", T.LongType(), True),
    ]
)

_TRADE_HEAD = T.StructType([T.StructField("asset", T.StringType())])


def _trade_asset():
    """A trade event's asset — a JVM-only JSON field extraction, no
    pandas decode."""
    return F.from_json("payload", _TRADE_HEAD).getField("asset")


class _GoldSink:
    """What both maintainers share: the merge stats and the update.
    Subclasses give `key_columns()`, the gold table's keys as
    expressions over raw trade events, and `recompute_for(touched,
    version_lsn)`, the gold rows of the touched keys."""

    def control_stats(self, mature):
        """This table's merge stats as one aggregate column over the
        raw events (lake/merge.py `batch_stats`), for the pipeline's
        control aggregation."""
        return batch_stats(
            mature & F.col("event_type").isin(*self.trigger_types),
            self.table.bucket_expr(keys=self.key_columns()),
        )

    def update(self, events: DataFrame, batch_id: int | None, lsn_max,
               precomputed: dict | None = None) -> dict:
        """Recompute the groups the batch's trades touch and merge them.
        `precomputed` holds this table's `control_stats` values; the
        recompute rows all carry `lsn_max`, which becomes their range."""
        m = self.table.manifest()
        if batch_id is not None and batch_id <= m["batch_id"]:
            return {"skipped": True, "batch_id": batch_id}
        names = self.table.key_fields()
        touched = (
            events.filter(F.col("event_type") == "trade_event")
            .select(*[c.alias(n) for c, n in zip(self.key_columns(), names)])
            .distinct()
        )
        updates = self.recompute_for(touched, int(lsn_max))
        if precomputed is not None:
            precomputed = dict(
                precomputed, lsn_min=int(lsn_max), lsn_max=int(lsn_max)
            )
        return merge_into(
            self.table, updates, batch_id=batch_id, precomputed=precomputed
        )


class GoldDecayedPrice(_GoldSink):
    """agg_prices analogue: per (asset, tumbling window) decayed
    volume-weighted average price, maintained incrementally."""

    name = "decayed_price"
    trigger_types = frozenset({"trade_event"})

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        trades_table: LakeTable,
        window_s: int = 1800,
        half_life_s: int = 1800,
        bucket_count: int = 8,
    ):
        self.spark = spark
        self.trades = trades_table
        self.window_s = window_s
        self.half_life_s = half_life_s
        try:
            self.table = LakeTable.create(
                spark, root, GOLD_PRICE_SCHEMA, ["asset", "window_start"],
                "lsn", bucket_count=bucket_count,
            )
        except FileExistsError:
            self.table = LakeTable(spark, root)

    def _window_start(self, ts_s):
        return (F.floor(ts_s / self.window_s) * self.window_s).cast("long")

    def recompute_for(self, windows: DataFrame, version_lsn: int) -> DataFrame:
        """Recompute gold rows for the given (asset, window_start) set
        from silver state. `windows` is small (the batch's distinct
        touched windows) -> broadcast semi-join prunes the silver scan."""
        silver = self.trades.read().withColumn(
            "window_start", self._window_start(F.col("ts_s"))
        )
        src = silver.join(
            F.broadcast(windows), on=["asset", "window_start"], how="left_semi"
        )
        agg = time_decayed_avg(
            src, ["asset"], "ts_s", "price",
            weight_col=F.col("amount").cast("double"),
            window_s=self.window_s, half_life_s=self.half_life_s,
        )
        return agg.select(
            "asset", "window_start",
            F.lit(version_lsn).cast("long").alias("lsn"),
            "decayed_avg",
            "n_obs",
            F.lit("u").alias("op"),
        )

    def key_columns(self) -> list:
        return [
            _trade_asset(),
            self._window_start((F.col("ts_ms") / 1000).cast("long")),
        ]

    def full_recompute(self) -> DataFrame:
        """Batch recompute over ALL silver trades (the parity oracle for
        tests: the incrementally maintained table must equal this)."""
        silver = self.trades.read()
        return time_decayed_avg(
            silver, ["asset"], "ts_s", "price",
            weight_col=F.col("amount").cast("double"),
            window_s=self.window_s, half_life_s=self.half_life_s,
        )


GOLD_TVL_SCHEMA = T.StructType(
    [
        T.StructField("asset", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("tvl", T.DoubleType(), True),
        T.StructField("n_trades", T.LongType(), True),
    ]
)


class GoldAssetTvl(_GoldSink):
    """dex_pool TVL analogue (reference README.md:240-257,
    parsers/accounts/tvl.py): per-asset total locked value, updated
    after every batch that trades the asset. The reference's
    TVLPoolStateParser re-estimates a pool's TVL after each swap and
    upserts `prices.dex_pool`; here the affected assets' TVL is
    recomputed FROM silver trades (broadcast semi-join prunes the scan
    to the touched assets) and merged into the gold table under its own
    batch_id / LWW guards — same incremental-view-maintenance contract
    as GoldDecayedPrice.

    The reference's top-tokens-by-TVL datamart (README.md:253-257:
    dex_pool_link JOIN dex_pool GROUP BY jetton ORDER BY tvl LIMIT 10)
    is `top_tokens()` — a query over this table joined with the silver
    metadata table (the dex_pool_link analogue: repo -> symbol), exactly
    as the reference runs it as SQL over its maintained tables.

    TVL here = sum(amount * price) over the asset's trades, as double:
    gross traded value standing in for the emulator-computed pool
    reserves (E7 is declared out of scope, SURVEY §2.5). All-positive
    terms -> no cancellation; parity tests compare with relative
    tolerance since partial-aggregation order is nondeterministic.
    """

    name = "asset_tvl"
    trigger_types = frozenset({"trade_event"})

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        trades_table: LakeTable,
        bucket_count: int = 8,
    ):
        self.spark = spark
        self.trades = trades_table
        try:
            self.table = LakeTable.create(
                spark, root, GOLD_TVL_SCHEMA, ["asset"], "lsn",
                bucket_count=bucket_count,
            )
        except FileExistsError:
            self.table = LakeTable(spark, root)

    def recompute_for(self, assets: DataFrame, version_lsn: int) -> DataFrame:
        src = self.trades.read().join(
            F.broadcast(assets), on="asset", how="left_semi"
        )
        return (
            src.groupBy("asset")
            .agg(
                F.sum(F.col("amount").cast("double") * F.col("price")).alias(
                    "tvl"
                ),
                F.count(F.lit(1)).alias("n_trades"),
            )
            .select(
                "asset",
                F.lit(version_lsn).cast("long").alias("lsn"),
                "tvl",
                "n_trades",
                F.lit("u").alias("op"),
            )
        )

    def key_columns(self) -> list:
        return [_trade_asset()]

    def full_recompute(self) -> DataFrame:
        return self.trades.read().groupBy("asset").agg(
            F.sum(F.col("amount").cast("double") * F.col("price")).alias("tvl"),
            F.count(F.lit(1)).alias("n_trades"),
        )

    def top_tokens(self, metadata_table: LakeTable, k: int = 10) -> DataFrame:
        """Top tokens by TVL (reference README.md:253-257). The link
        table is tiny relative to trades at scale but can still be
        large in absolute terms — the join key is the gold table's own
        key, so this stays a broadcast join of the gold side into the
        link scan only while gold is small; spelled as a plain join and
        left to AQE otherwise."""
        link = metadata_table.read().select(
            F.col("repo").alias("asset"), "symbol"
        )
        return (
            self.table.read()
            .filter(F.col("tvl") > 0)
            .join(link, on="asset")
            .groupBy("symbol")
            .agg(F.sum("tvl").alias("total_tvl"))
            .orderBy(F.desc("total_tvl"), "symbol")
            .limit(k)
        )
