"""Hot-key detection for merge-shuffle salting, from a frequency sketch.

The reference's only skew story is raising Kafka message limits for
mega account states (README.md:30-39); the north rule requires explicit
detection + salting. Detection is a by-product of an aggregation that
runs anyway: one `approx_top_k` (DataSketches frequent items) column
rides apply_batch's control aggregation, so it costs no Spark action.
When the top key's count reaches SUPPORT of the batch's data events,
the merge runs its salted phase 1 (lake/merge.py) with SALT reducers
per key. The decision is made afresh for every batch.

The sketch counts NULL as an item, and every non-data row is NULL, so
it is asked for its top 2 and the NULL item is dropped. A count can be
overestimated by a few rows past the sketch's 10k tracked items, which
is far below SUPPORT of any batch that large.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

KEY_SEP = "\x00"
SALT = 16
SUPPORT = 0.05


class HotKeyMonitor:
    """Builds the sketch column over a table's key fields and reads the
    salting decision off its aggregated value."""

    def __init__(self, keys: list[str]):
        self.keys = keys

    def sketch(self, rows: Column) -> Column:
        """Aggregate column: the 2 most frequent keys (joined by KEY_SEP)
        among the rows where `rows` holds, as [(item, count)]."""
        key = F.concat_ws(KEY_SEP, *[F.col(k) for k in self.keys])
        return F.call_function("approx_top_k", F.when(rows, key), F.lit(2))

    def salt_for(self, top: list, n: int) -> int | None:
        """SALT when the top non-null item of `top` holds at least SUPPORT
        of the `n` rows the sketch counted, else None."""
        counts = [r["count"] for r in top or [] if r["item"] is not None]
        return SALT if counts and counts[0] >= SUPPORT * n else None
