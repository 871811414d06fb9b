"""LSN-guarded, last-writer-wins MERGE INTO for LakeTable.

Semantics reproduced from the reference's upsert layer:

  * insert-if-absent                      (db.py:197-222, ON CONFLICT DO NOTHING)
  * LWW update guarded by logical time    (db.py:249-269: `WHERE
    target.last_transaction_lt < EXCLUDED.last_transaction_lt`)
  * deletes (superset of the reference, which drops `d` ops —
    parser/main.py:70-71; the north rule requires them): a delete wins
    only if its LSN is newer than the target row's.

One plan resolves every batch. Duplicate deliveries and several
changes to one key per micro-batch mean the batch can hold many rows
per key; only the winner (max (lsn, op_rank)) may apply — a real
Iceberg MERGE would error on duplicate source keys. The affected target
buckets (tombstones included) are unioned with the batch, and one hash
aggregation, `groupBy(keys).max(struct(lsn, _src, _op_rank, data...))`,
picks the winner per key. `_src` ranks target rows above batch rows, so
an equal LSN keeps the target (the strict guard). Map-side partial
aggregation collapses a key's duplicates before the shuffle. For
detected hot keys (cdc/skew.py) the batch side first runs a salted
phase 1 (north rule skew handling): it takes the max of the same struct
per (key, salt) group, spreading a mega-key over `salt` reducers, and
the union aggregation finishes the job. One order decides both phases,
so a salted merge writes what an unsalted one does.

The target side is every stored row of the affected buckets: base
files and the delta files still covering them, unresolved, since the
aggregation resolves anyway. Its result is written one of two ways:

  * delta (merge-on-read): when the batch's row bound is below the
    affected buckets' base rows, only the rows the batch won (`_s = 0`,
    tombstones included) are appended as unbucketed delta files. The
    write then scales with the batch, not with the buckets it touches,
    and the target side is read as (keys, lsn) only: a batch row only
    has to beat the stored row's version, whose payload is never
    emitted.
  * rewrite (copy-on-write): otherwise, or once the table's delta rows
    reach its base rows, every affected bucket is rewritten and its
    deltas are folded. The aggregation's output is hash-partitioned on
    the keys by the same Murmur3 hash the buckets use, so each
    rewritten bucket is written as one file.

Either commit is atomic with lineage and a metrics row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .table import LakeTable


def _aligned_columns(table: LakeTable, m: dict, updates: DataFrame):
    """(key, version-field, user data) column expressions over `updates`,
    cast to the table's current schema in manifest order. Columns the
    batch lacks (added mid-stream by schema evolution) become typed
    nulls. The system `_deleted` column, last in manifest order, is left
    to the caller. Callers put these in ONE select, not a withColumn
    chain: every DataFrame op re-runs analysis over the whole tree on
    the single driver thread."""
    present = set(updates.columns)
    cols = {
        f.name: (F.col(f.name) if f.name in present else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in table.schema().fields
    }
    keys, vf = m["key_fields"], m["version_field"]
    data = [c for n, c in cols.items() if n not in keys and n != vf]
    return [cols[k] for k in keys], cols[vf], data


def batch_stats(rows: Column, bucket: Column) -> Column:
    """The stats `merge_into` takes as `precomputed`, as ONE aggregate
    column over the raw events a batch is parsed from: the row bound,
    LSN range and bucket set over the events where `rows` holds. A
    caller folds it into an aggregation it runs anyway, so the merge
    needs no persist and no stats job of its own."""
    return F.struct(
        F.count(F.when(rows, 1)).alias("n_upper"),
        F.min(F.when(rows, F.col("lsn"))).alias("lsn_min"),
        F.max(F.when(rows, F.col("lsn"))).alias("lsn_max"),
        F.collect_set(F.when(rows, bucket)).alias("buckets"),
    )


def merge_into(
    table: LakeTable,
    updates: DataFrame,
    batch_id: int | None = None,
    salt: int | None = None,
    precomputed: dict | None = None,
) -> dict:
    """Apply a batch of change rows to the lake table.

    `updates` columns: key fields + version field + `op` + the table's
    data columns (missing/extra columns are aligned to the current
    schema; deletes may carry nulls).

    Returns a stats dict; `skipped=True` when `batch_id` was already
    committed (exactly-once replay guard).
    """
    m = table.manifest()
    if batch_id is not None and batch_id <= m["batch_id"]:
        return {"skipped": True, "batch_id": batch_id, "version": m["version"]}

    keys = m["key_fields"]
    vf = m["version_field"]
    data_cols = [  # includes the system _deleted column
        f["name"] for f in m["fields"] if f["name"] not in keys and f["name"] != vf
    ]
    key_cols, vf_col, data = _aligned_columns(table, m, updates)
    op_rank = (
        F.col("_op_rank")
        if "_op_rank" in updates.columns
        else F.when(F.col("op") == "d", F.lit(3))
        .when(F.col("op") == "u", F.lit(2))
        .when(F.col("op") == "c", F.lit(1))
        .otherwise(F.lit(0))
    )
    batch = updates.select(
        *key_cols,
        vf_col,
        op_rank.alias("_op_rank"),
        *data,
        (F.col("op") == "d").alias("_deleted"),
    )

    # batch stats (affected buckets / row bound / LSN range) may be
    # precomputed by the caller from a cheap column-pruned scan of the
    # RAW events (no payload decode) — then the decoded batch flows
    # straight into the merge plan without any materialization.
    if precomputed is not None:
        return _union_merge(table, m, batch, data_cols, precomputed, batch_id, salt)
    batch = batch.persist()
    try:
        stats = batch.agg(
            F.count(F.lit(1)).alias("n_upper"),
            F.min(vf).alias("lsn_min"),
            F.max(vf).alias("lsn_max"),
            F.collect_set(table.bucket_expr(m)).alias("buckets"),
        ).collect()[0]
        return _union_merge(
            table, m, batch, data_cols, stats.asDict(), batch_id, salt
        )
    finally:
        batch.unpersist()


def _union_merge(
    table: LakeTable,
    m: dict,
    batch: DataFrame,
    data_cols: list[str],
    stats: dict,
    batch_id: int | None,
    salt: int | None,
) -> dict:
    """Resolve `batch` against its affected buckets with the union
    aggregation and commit the batch's winners as a delta, or the
    rewritten buckets (see the module docstring for the choice)."""
    n_rows = stats["n_upper"]
    if n_rows == 0:
        return {"skipped": True, "empty": True, "version": m["version"]}
    keys, vf = m["key_fields"], m["version_field"]
    lsn_min, lsn_max = stats["lsn_min"], stats["lsn_max"]
    affected = sorted(set(stats["buckets"]))
    base_rows = {int(b): int(n) for b, n in m.get("bucket_rows", {}).items()}
    delta = (
        n_rows < sum(base_rows.get(b, 0) for b in affected)
        and table.delta_rows(m) < sum(base_rows.values())
    )

    # raw rows: tombstones participate so the LSN guard protects deleted
    # keys, and superseded rows simply lose the aggregation. A delta
    # emits no target row, so the batch only has to beat the target's
    # (lsn, _src): its data columns are typed nulls, and the scan reads
    # just the keys and the version field.
    types = table._logical_schema(m, True)
    t_side = table._raw(m, affected)[0].select(
        *keys,
        vf,
        F.lit(1).alias("_src"),  # tie on lsn -> target wins (strict guard)
        F.lit(0).alias("_op_rank"),
        *[
            F.lit(None).cast(types[c].dataType).alias(c) if delta else c
            for c in data_cols
        ],
    )
    u_side = batch.select(*keys, vf, F.lit(0).alias("_src"), "_op_rank", *data_cols)
    ordered = F.struct(
        F.col(vf).alias("_v"),
        F.col("_src").alias("_s"),
        F.col("_op_rank").alias("_r"),
        *[F.col(c).alias(c) for c in data_cols],
    ).alias("_w")
    t_side, u_side = t_side.select(*keys, ordered), u_side.select(*keys, ordered)
    if salt and salt > 1:
        # salted phase 1 for hot keys: (key, salt) groups spread a
        # mega-key over `salt` reducers; at most `salt` rows per key
        # survive into the union aggregation, under the same order
        u_side = u_side.groupBy(
            *keys, F.pmod(F.xxhash64("_w._v"), F.lit(salt)).alias("_salt")
        ).agg(F.max("_w").alias("_w")).drop("_salt")
    won = t_side.unionByName(u_side).groupBy(*keys).agg(F.max("_w").alias("_w"))
    if delta:
        won = won.filter(F.col("_w._s") == 0)
    resolved = won.select(
        *keys,
        F.col("_w._v").alias(vf),
        *[F.col(f"_w.{c}").alias(c) for c in data_cols],
    )

    # NO repartition before the bucketed write: the groupBy hash-
    # partitions its output on the keys with the Murmur3 hash bucket ids
    # are a pmod of, so each bucket comes from one task (when
    # bucket_count % shuffle.partitions == 0; otherwise the write only
    # produces extra files). A delta is written as AQE coalesced it.
    res = table._commit_data(
        resolved if delta else resolved.withColumn("_bucket", table.bucket_expr(m)),
        m,
        () if delta else affected,
        {"type": "merge", "strategy": "union_agg", "lsn_range": [lsn_min, lsn_max]},
        batch_id=batch_id,
        covers=affected if delta else None,
        metrics={
            "batch_id": batch_id,
            "strategy": "union_agg",
            "updated_keys": n_rows,
            "affected_buckets": len(affected),
            "lsn_min": lsn_min,
            "lsn_max": lsn_max,
        },
    )
    return {"skipped": False, **res}


def append_insert(
    table: LakeTable,
    updates: DataFrame,
    batch_id: int | None = None,
) -> dict:
    """Fast-append for PURE INSERTS of strictly-new keys — the Iceberg
    fast-append analogue. Writes ONLY the new rows as fresh bucket
    files APPENDED to the manifest's existing file lists: no target
    read, no merge shuffle, no stats pre-pass, one write job + commit.

    Caller contract (NOT verified here — verifying would cost the
    anti-join this path exists to avoid): every key in `updates` is
    absent from the table, and every op is an insert ('c'). Violating
    it breaks the unique-key-per-bucket invariant reads rely on. Built
    for append-only side tables whose keys are new by construction —
    the near-dup index's bands/docs tables (doc ids are unique across
    batches, lake/neardup_index.py) — where full merge_into spent ~2/3
    of its wall on a stats aggregation and a target-rewrite shuffle
    that can never change anything.

    Exactly-once: the same batch_id guard as merge_into; an appended
    batch re-delivered is skipped. Unlike merge_into, an EMPTY batch
    still commits (advancing batch_id) so replay guards see it.
    """
    m = table.manifest()
    if batch_id is not None and batch_id <= m["batch_id"]:
        return {"skipped": True, "batch_id": batch_id, "version": m["version"]}

    key_cols, vf_col, data = _aligned_columns(table, m, updates)
    aligned = updates.select(
        *key_cols, vf_col, *data, F.lit(False).alias("_deleted")
    ).withColumn("_bucket", table.bucket_expr(m))
    res = table._commit_data(
        aligned,
        m,
        (),
        {"type": "append", "strategy": "append"},
        batch_id=batch_id,
        metrics={"batch_id": batch_id, "strategy": "append"},
    )
    return {"skipped": False, **res}
