"""LSN-guarded, last-writer-wins MERGE INTO for LakeTable.

Semantics reproduced from the reference's upsert layer:

  * insert-if-absent                      (db.py:197-222, ON CONFLICT DO NOTHING)
  * LWW update guarded by logical time    (db.py:249-269: `WHERE
    target.last_transaction_lt < EXCLUDED.last_transaction_lt`)
  * deletes (superset of the reference, which drops `d` ops —
    parser/main.py:70-71; the north rule requires them): a delete wins
    only if its LSN is newer than the target row's.

Correctness-critical pre-step: **in-batch LSN-max dedup**. At-least-once
delivery + multiple updates to one key per micro-batch mean the source
can hold many rows per key; the merge must apply only the winner
(max (lsn, op_rank)) — a real Iceberg MERGE would error on duplicate
source keys. The dedup is a hash aggregation (`max(struct(...))`) so it
gets map-side partial aggregation for free; for detected hot keys it runs
two-phase with an explicit salt column (north rule skew handling): each
shuffle partition first collapses (key, salt) groups, then the tiny
residue is collapsed per key.

Two physical strategies, chosen by deduped batch size:

  * broadcast (the steady-state CDC case): the deduped update keys are
    broadcast; affected target buckets stream through a map-side join
    with zero shuffle of target data — the analogue of the reference's
    per-row indexed point reads, at Spark scale.
  * union-agg (bulk loads): target ∪ updates, one hash aggregation picks
    the winner per key. No join at all, skew-resistant by partial agg.

Both rewrite only the buckets that contain changed keys (copy-on-write)
and commit atomically with per-bucket lineage + a metrics row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .table import LakeTable

BROADCAST_KEY_LIMIT = 4_000_000  # deduped keys above this -> union-agg plan
# hard byte bound on the broadcast strategy: F.broadcast is a HARD hint
# that bypasses autoBroadcastJoinThreshold, so a row-count cap alone can
# broadcast hundreds of MB of key strings per executor (driver/executor
# OOM at scale). The estimate is n_keys * (avg key width + overhead);
# above the cap the merge falls back to union_agg, which never
# broadcasts. Width rides along in the same control-plane aggregation
# the pipeline already runs — no extra job.
BROADCAST_BYTES_CAP = 256 * 1024 * 1024
_KEY_ROW_OVERHEAD = 32  # per-row struct/offset overhead in the broadcast rel


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


def dedup_updates(
    updates: DataFrame,
    keys: list[str],
    version_field: str,
    data_cols: list[str],
    salt: int | None = None,
    final: bool = True,
) -> DataFrame:
    """Collapse an update batch to one winning row per key (or, with
    final=False and salting active, to <= salt rows per key — a partial
    pre-aggregation the caller's own aggregation must finish).

    Winner = max (lsn, op_rank, ...) — a total, deterministic order, so
    the result is identical regardless of partitioning/parallelism
    (required for the N-vs-4N sha256 parity of BASELINE.json).
    """
    ordered = F.struct(
        F.col(version_field).alias("_v"),
        F.col("_op_rank").alias("_r"),
        F.col("op").alias("op"),
        *[F.col(c).alias(c) for c in data_cols],
    )

    def expand(df: DataFrame) -> DataFrame:
        return df.select(
            *keys,
            F.col("_w._v").alias(version_field),
            F.col("_w._r").alias("_op_rank"),
            F.col("_w.op").alias("op"),
            *[F.col(f"_w.{c}").alias(c) for c in data_cols],
        )

    if salt and salt > 1:
        # explicit two-phase (salted) aggregation for hot keys: phase 1
        # shuffles on (key, salt) spreading a mega-key over `salt`
        # reducers. With final=False only phase 1 runs (<= salt rows per
        # key survive) — the merge aggregation downstream finishes the
        # job in ITS shuffle, saving a full pass over the batch.
        salted = updates.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(version_field)), F.lit(salt)).cast("int")
        )
        phase1 = expand(
            salted.groupBy(*keys, "_salt").agg(F.max(ordered).alias("_w"))
        )
        if not final:
            return phase1
        return expand(phase1.groupBy(*keys).agg(F.max(ordered).alias("_w")))
    return expand(updates.groupBy(*keys).agg(F.max(ordered).alias("_w")))


def merge_into(
    table: LakeTable,
    updates: DataFrame,
    batch_id: int | None = None,
    salt: int | None = None,
    pre_deduped: bool = False,
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
    all_cols = [f["name"] for f in m["fields"]]  # includes system _deleted
    data_cols = [c for c in all_cols if c not in keys and c != vf]

    key_cols, vf_col, data = _aligned_columns(table, m, updates)
    op_rank = (
        F.col("_op_rank")
        if "_op_rank" in updates.columns
        else F.when(F.col("op") == "d", F.lit(3))
        .when(F.col("op") == "u", F.lit(2))
        .when(F.col("op") == "c", F.lit(1))
        .otherwise(F.lit(0))
    )
    aligned = updates.select(
        *key_cols,
        vf_col,
        F.col("op").alias("op"),
        op_rank.alias("_op_rank"),
        *data,
        (F.col("op") == "d").alias("_deleted"),
    )

    # partial (salted) dedup only: the merge aggregation below finishes
    # it, so the fat content rows cross one less shuffle. The broadcast
    # strategy finalizes explicitly (it needs one row per source key).
    deduped = (
        aligned
        if pre_deduped
        else dedup_updates(aligned, keys, vf, data_cols, salt=salt, final=False)
    )
    deduped = deduped.withColumn("_bucket", table.bucket_expr(m))

    # batch stats (affected buckets / row bound / LSN range) may be
    # precomputed by the caller from a cheap column-pruned scan of the
    # RAW events (no payload decode) — then the decoded batch flows
    # straight into the merge plan without any materialization.
    persisted = False
    if precomputed is not None:
        n_keys = precomputed["n_upper"]
        lsn_min, lsn_max = precomputed["lsn_min"], precomputed["lsn_max"]
        affected = sorted(set(precomputed["buckets"]))
        key_width = precomputed.get("key_bytes_avg")
    else:
        deduped = deduped.persist()
        persisted = True
        agg = deduped.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(vf).alias("lsn_min"),
            F.max(vf).alias("lsn_max"),
            F.collect_set("_bucket").alias("buckets"),
            F.avg(
                sum(
                    (F.length(F.col(k).cast("string")) for k in keys), F.lit(0)
                )
            ).alias("kw"),
        ).collect()[0]
        n_keys = agg["n"]
        lsn_min, lsn_max = agg["lsn_min"], agg["lsn_max"]
        if n_keys == 0:
            deduped.unpersist()
            return {"skipped": True, "empty": True, "version": m["version"]}
        affected = sorted(agg["buckets"])
        key_width = agg["kw"]
    if n_keys == 0:
        return {"skipped": True, "empty": True, "version": m["version"]}

    # tombstones participate so the LSN guard protects deleted keys
    target = table.read(buckets=affected, include_deleted=True)
    # strategy: broadcast streams the (possibly huge) affected buckets
    # map-side against broadcast update keys — right when the batch is
    # narrow relative to the table. union_agg is one shuffle over
    # affected-bucket rows + updates — fewer stages, right for bulk
    # loads and for small affected data. Per-bucket row counts in the
    # manifest make the decision free.
    brows = m.get("bucket_rows", {})
    affected_rows = sum(int(brows.get(str(b), 0)) for b in affected)
    # byte bound: estimated broadcast size of the update-key set (the
    # `matched` rel is <= the same size + one long). Unknown width (no
    # string keys / missing stat) falls back to a conservative 64 bytes.
    est_key_bytes = n_keys * ((key_width or 64.0) + _KEY_ROW_OVERHEAD)
    if (
        n_keys > BROADCAST_KEY_LIMIT
        or est_key_bytes > BROADCAST_BYTES_CAP
        or affected_rows <= 4 * n_keys
    ):
        strategy = "union_agg"
    else:
        strategy = "broadcast"

    if strategy == "broadcast":
        # the broadcast plan consumes the decoded batch twice -> cache it
        if not persisted:
            deduped = deduped.persist()
            persisted = True
        if not pre_deduped and salt and salt > 1:
            deduped = dedup_updates(
                deduped, keys, vf, data_cols, salt=None
            ).withColumn("_bucket", table.bucket_expr(m))
        upd_keys = F.broadcast(
            deduped.groupBy(*keys).agg(F.max(vf).alias("_u_lsn"))
        )
        t_keep = (
            target.join(upd_keys, on=keys, how="left")
            .filter(F.col("_u_lsn").isNull() | (F.col(vf) >= F.col("_u_lsn")))
            .drop("_u_lsn")
        )
        matched = F.broadcast(
            target.select(*keys, F.col(vf).alias("_t_lsn")).join(
                F.broadcast(deduped.select(*keys)), on=keys, how="left_semi"
            )
        )
        winners = (
            deduped.join(matched, on=keys, how="left")
            .filter(F.col("_t_lsn").isNull() | (F.col("_t_lsn") < F.col(vf)))
            .select(*keys, vf, *data_cols)
        )
        resolved = t_keep.select(*keys, vf, *data_cols).unionByName(winners)
    else:
        t_side = target.select(
            *keys,
            vf,
            F.lit(1).alias("_src"),  # tie on lsn -> target wins (strict guard)
            F.lit(0).alias("_op_rank"),
            *data_cols,
        )
        u_side = deduped.select(
            *keys, vf, F.lit(0).alias("_src"), "_op_rank", *data_cols
        )
        ordered = F.struct(
            F.col(vf).alias("_v"),
            F.col("_src").alias("_s"),
            F.col("_op_rank").alias("_r"),
            *[F.col(c).alias(c) for c in data_cols],
        )
        won = t_side.unionByName(u_side).groupBy(*keys).agg(F.max(ordered).alias("_w"))
        resolved = won.select(
            *keys,
            F.col("_w._v").alias(vf),
            *[F.col(f"_w.{c}").alias(c) for c in data_cols],
        )

    # NO repartition before the bucketed write: both plans end in a
    # groupBy on the keys or keep the per-file bucket clustering, and
    # bucket ids are pmod of the same Murmur3 hash HashPartitioning uses
    # (aligned when bucket_count % shuffle.partitions == 0; otherwise
    # the write only produces extra files)
    res = table._commit_data(
        resolved.withColumn("_bucket", table.bucket_expr(m)),
        m,
        affected,
        {"type": "merge", "strategy": strategy, "lsn_range": [lsn_min, lsn_max]},
        batch_id=batch_id,
        metrics={
            "batch_id": batch_id,
            "strategy": strategy,
            "updated_keys": n_keys,
            "affected_buckets": len(affected),
            "lsn_min": lsn_min,
            "lsn_max": lsn_max,
        },
    )
    if persisted:
        deduped.unpersist()
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
