"""Streaming hot-key detection for merge-shuffle salting.

The reference's only skew story is raising Kafka message limits for
mega account states (README.md:30-39); the north rule requires explicit
detection + salting. Detection counts keys exactly over a sample of the
batch (one aggregation job): any key holding at least `support` of the
sampled rows triggers the merge's salted phase 1
(lake/merge.py::dedup_updates), which the union aggregation finishes.
An approximate frequent-items sketch is
not used: its surviving counters include false positives, so it fired
on every uniform batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

KEY_SEP = "\x00"


def detect_hot_keys(
    df: DataFrame,
    keys: list[str],
    support: float = 0.05,
    sample_fraction: float = 0.2,
) -> list[str]:
    """Keys (joined by KEY_SEP) holding at least `support` of the
    sampled rows."""
    s = df if sample_fraction >= 1.0 else df.sample(fraction=sample_fraction, seed=7)
    # coalesce(1) hands the window the single partition it needs
    # without a second exchange: one shuffle, as for an aggregate
    counts = s.groupBy(
        F.concat_ws(KEY_SEP, *[F.col(k) for k in keys]).alias("_k")
    ).count().coalesce(1)
    rows = (
        counts.withColumn(
            "_total", F.sum("count").over(Window.partitionBy(F.lit(0)))
        )
        .filter(F.col("count") >= F.lit(support) * F.col("_total"))
        .select("_k")
        .collect()
    )
    return [r["_k"] for r in rows if r["_k"]]


class HotKeyMonitor:
    """Caches the salting decision across micro-batches, refreshing every
    `refresh_every` batches (the reference refreshes its in-memory dim
    caches on a cadence too, tvl.py:27-31)."""

    def __init__(self, keys: list[str], support: float = 0.05,
                 refresh_every: int = 8, salt: int = 16):
        self.keys = keys
        self.support = support
        self.refresh_every = refresh_every
        self.salt_value = salt
        self._n_seen = 0
        self._active_salt: int | None = None
        self.hot_keys: list[str] = []

    def salt_for(self, batch_df: DataFrame) -> int | None:
        if self._n_seen % self.refresh_every == 0:
            self.hot_keys = detect_hot_keys(batch_df, self.keys, self.support)
            self._active_salt = self.salt_value if self.hot_keys else None
        self._n_seen += 1
        return self._active_salt
