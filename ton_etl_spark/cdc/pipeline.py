"""The CDC apply pipeline: change-event stream -> parse -> MERGE.

Batch and streaming entry points around one core routine, `apply_batch`
(the reference shares code between live consumption and replay the same
way — parser/main.py:49-54 re-feeds DB rows as fake Kafka records).

Exactly-once protocol (reference T1, SURVEY.md §2.11): Structured
Streaming checkpoints source offsets; the sink (LakeTable) records the
last applied `batch_id` in its atomically-swapped manifest. A crash
between sink commit and checkpoint commit replays the batch; the
manifest guard plus idempotent DDL plus LSN-guarded MERGE make the
replay a no-op. This is the Spark re-expression of the reference's
"DB commit, then Kafka offset commit, duplicates absorbed by ON
CONFLICT" protocol (parser/main.py:85-90).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..lake.merge import merge_into
from ..lake.table import LakeTable
from ..schemas import CHANGE_EVENT_SCHEMA
from .dispatch import ParserRegistry, default_registry
from .parsers import _UPSERT_WIRE_SCHEMA as _UPSERT_WIRE
from .skew import HotKeyMonitor


def _apply_ddl(table: LakeTable, ddl_rows: list) -> list[str]:
    """Apply schema_change events in LSN order. All three actions are
    metadata-only LakeTable commits and are idempotent under replay."""
    applied = []
    for r in sorted(ddl_rows, key=lambda r: r["lsn"]):
        if r["action"] == "add":
            table.add_column(r["name"], r["type"])
        elif r["action"] == "rename":
            table.rename_column(r["name"], r.get("new_name"))
        elif r["action"] == "widen":
            table.widen_column(r["name"], r["type"])
        applied.append(f"{r['action']}:{r['name']}")
    return applied


# Upper bound on candidate provenance rows one rename COMPONENT (a
# connected set of old/new keys) may feed the resolver. Components are
# small (a key's writes in this batch plus its one lake row); one that
# exceeds this is adversarial or misconfigured, and the resolver fails
# loudly inside the task rather than silently indexing a giant group.
MAX_CHAIN_PROVENANCE_ROWS = 1_000_000


def _make_chain_resolver(group_renames: dict[int, list], data_cols: list[str]):
    """Build the sequential rename resolver for applyInArrow.
    `group_renames` maps group id -> lsn-sorted
    [(repo, path, lsn, new_path), ...] over every component packed into
    that group; it is small (bounded by the control collect) and ships
    to workers in the UDF closure. Renames of different components never
    touch the same key, so one loop over a group in global lsn order
    gives each component its own sequential answer.

    Semantics (identical to the sequential oracle): the winner of a
    rename is the latest write to its old key with lsn < rename.lsn,
    from candidates or from earlier renames' overlay; a missing/dead
    old key skips the rename. Emits the merge rows themselves, per
    applied rename: (repo, path, lsn, 'd', nulls...) for the old key
    and (repo, new_path, lsn, 'u', <winner's `data_cols`>) for the new
    key. The overlay tracks the winner as a candidate row index, and the
    moved columns are one Arrow `take` of the input, so every value
    leaves with the type it came in with (no pandas dtype round trip:
    a nullable bigint would pass through float64)."""
    import pyarrow as pa

    # capture the bound by VALUE: the UDF body runs in worker processes
    # that re-import this module (a module-global read there would not
    # see a driver-side override)
    bound = MAX_CHAIN_PROVENANCE_ROWS

    def resolve(key, tbl):
        # the bound is per component, not per group: packing components
        # into fewer groups must not change which batches fail
        sizes = Counter(tbl.column("_comp").to_pylist()).most_common(1)
        if sizes and sizes[0][1] > bound:
            raise RuntimeError(
                f"rename resolution: component {sizes[0][0]} has "
                f"{sizes[0][1]} candidate provenance rows, above the "
                f"{bound} bound (chained-rename flood); refusing to build "
                f"the resolver's index. Split the offending batch (lower "
                f"max_files_per_trigger) or raise "
                f"MAX_CHAIN_PROVENANCE_ROWS deliberately."
            )
        by_key: dict[tuple, list] = {}
        for i, (repo, path, lsn, dead) in enumerate(zip(
            *(tbl.column(c).to_pylist() for c in ("repo", "path", "lsn", "_dead"))
        )):
            by_key.setdefault((repo, path), []).append((lsn, not dead, i))
        # (repo, path, lsn, op, winner row index | None)
        rows: list[tuple] = []
        # key -> (lsn, alive, winner row index | None)
        overlay: dict[tuple, tuple] = {}
        for repo, path, L, new_path in group_renames.get(key[0].as_py(), []):
            old = (repo, path)
            best = None
            for cand in by_key.get(old, []):
                if cand[0] < L and (best is None or cand[0] > best[0]):
                    best = cand
            ov = overlay.get(old)
            if ov is not None and ov[0] < L and (
                best is None or ov[0] > best[0]
            ):
                best = ov
            if best is None or not best[1]:
                continue
            rows.append((repo, path, L, "d", None))
            rows.append((repo, new_path, L, "u", best[2]))
            overlay[old] = (L, False, None)
            overlay[(repo, new_path)] = (L, True, best[2])
        repos, paths, lsns, ops, idx = (
            (list(c) for c in zip(*rows)) if rows else [[]] * 5
        )
        # a null index takes an all-null row: the delete rows' data
        moved = tbl.select(data_cols).take(pa.array(idx, pa.int64()))
        return pa.Table.from_arrays(
            [
                pa.array(repos, pa.string()),
                pa.array(paths, pa.string()),
                pa.array(lsns, pa.int64()),
                pa.array(ops, pa.string()),
                *moved.columns,
            ],
            names=["repo", "path", "lsn", "op", *data_cols],
        )

    return resolve


def _rename_components(renames: list[dict]) -> tuple[dict[tuple, int], int]:
    """Union-find over the renames' old/new keys. Returns the component
    id of every key and the number of renames that share their component
    with another rename (the chained ones, where order between renames
    matters)."""
    parent: dict[tuple, tuple] = {}

    def find(x: tuple) -> tuple:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in renames:
        old, new = (r["repo"], r["path"]), (r["repo"], r["new_path"])
        parent.setdefault(old, old)
        parent.setdefault(new, new)
        ra, rb = find(old), find(new)
        if ra != rb:
            parent[ra] = rb
    ids: dict[tuple, int] = {}
    comp_of = {k: ids.setdefault(find(k), len(ids)) for k in parent}
    size = Counter(comp_of[(r["repo"], r["path"])] for r in renames)
    n_chained = sum(n for n in size.values() if n > 1)
    return comp_of, n_chained


def _rename_candidates(
    table: LakeTable,
    events: DataFrame,
    registry: ParserRegistry,
    keys_b: DataFrame,
    buckets: list[int],
) -> DataFrame:
    """Every write that could be a rename's source, narrowed to the old
    keys in `keys_b` (the broadcast per-batch key DataFrame): this
    batch's upserts and deletes of those keys plus their lake state from
    the old keys' buckets, tombstones included so a dead key blocks the
    rename. `_dead` marks deletes and tombstones. The rows carry their
    data columns, which the resolver moves to the new keys; they are
    read once, by the resolver, inside the merge action."""
    # semi-join the RAW events before the Arrow decode: a join cannot be
    # pushed below the UDF projection the way a literal filter can, so
    # only the old keys' events are decoded
    old_events = events.join(keys_b, on=["repo", "path"], how="left_semi")
    ups = registry.route(old_events, registry.get("file_upsert")).filter(
        ~F.col("_malformed")
    ).drop("_malformed")
    dels = registry.route(old_events, registry.get("file_delete"))
    batch_side = ups.withColumn("_dead", F.lit(False)).unionByName(
        dels.withColumn("_dead", F.lit(True)), allowMissingColumns=True
    )
    lake_side = (
        table.read(buckets=sorted(set(buckets)), include_deleted=True)
        .join(keys_b, on=["repo", "path"], how="left_semi")
        .withColumn("_dead", F.coalesce(F.col("_deleted"), F.lit(False)))
        .drop("_deleted")
    )
    return batch_side.unionByName(lake_side, allowMissingColumns=True)


def _resolve_renames(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    registry: ParserRegistry,
    rename_rows: list,
    data_cols: list[str],
) -> tuple[DataFrame | None, int, int]:
    """Resolve the batch's renames into synthetic merge rows.

    A rename moves the old key's latest pre-rename content to the new
    key, a cross-key dependency the LWW merge can't express. The winner
    is the latest write to the old key with lsn < rename.lsn, looked up
    across this batch's events, earlier renames in this batch and the
    lake. A missing or dead old key skips the rename (the reference's
    NonCritical missing-parent contract, db.py:98-152).

    One path for every rename. `rename_rows` (the control collect's
    rename rows, with the old key's bucket) are deduped by lsn and split
    into connected key components on the driver. One broadcast
    (repo, path, _comp) DataFrame of old keys narrows the raw events and
    the lake read to the candidates, then tags them with their component
    for the sequential resolver, which runs in an applyInArrow over at
    most `spark.sql.shuffle.partitions` groups (`_comp % n`) and emits
    the merge rows (old-key deletes, new-key upserts with the moved
    content) itself. Its output types are the candidates' types, so they
    follow the schema as DDL changes it. Everything is lazy and runs
    inside the merge action; no content passes through the driver.

    Returns (merge_rows | None, n_renames, n_chained): the number of
    lsn-deduped renames that have a `new_path`, and how many of those
    share their component with another rename.
    """
    seen, renames = set(), []
    for r in sorted(rename_rows, key=lambda r: r["lsn"]):
        if r["lsn"] in seen or r["new_path"] is None:
            continue
        seen.add(r["lsn"])
        renames.append(r)
    if not renames:
        return None, 0, 0

    comp_of, n_chained = _rename_components(renames)
    n_groups = int(spark.conf.get("spark.sql.shuffle.partitions"))
    group_renames: dict[int, list] = {}
    old_keys = set()
    for r in renames:
        comp = comp_of[(r["repo"], r["path"])]
        old_keys.add((r["repo"], r["path"], comp))
        group_renames.setdefault(comp % n_groups, []).append(
            (r["repo"], r["path"], r["lsn"], r["new_path"])
        )
    keys_b = F.broadcast(
        spark.createDataFrame(
            sorted(old_keys), "repo string, path string, _comp int"
        )
    )
    cand = _rename_candidates(
        table, events, registry, keys_b, [r["_bucket"] for r in renames]
    )
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *[T.StructField(d, cand.schema[d].dataType) for d in data_cols],
        ]
    )
    rows = (
        cand.select("repo", "path", "lsn", "_dead", *data_cols)
        .join(keys_b, on=["repo", "path"])
        .groupBy((F.col("_comp") % n_groups).alias("_g"))
        .applyInArrow(_make_chain_resolver(group_renames, data_cols), schema)
    )
    return rows, len(renames), n_chained


# event types that target the main repos table (everything else is
# fact fan-out handled by SilverFanout, or DDL)
REPO_EVENT_TYPES = ("file_upsert", "file_delete", "file_rename")


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int | None = None,
    registry: ParserRegistry | None = None,
    monitor: HotKeyMonitor | None = None,
    fanout=None,       # cdc.silver.SilverFanout
    gold=None,         # gold maintainer (GoldDecayedPrice/GoldAssetTvl) or list
    blacklist=None,    # cdc.blacklist.LearnedBlacklist
    mature_lsn: int | None = None,   # F5 gate cutoff (None+gated: all deferred)
    gated: bool = False,             # events carry an immature tail to defer
) -> dict:
    t0 = time.time()
    m = table.manifest()
    replayed = batch_id is not None and batch_id <= m["batch_id"]
    if replayed:
        # replayed epoch. With fan-out attached we cannot short-circuit
        # here: a crash may have landed BETWEEN the main commit and a
        # silver/gold commit, so each downstream table's own batch_id
        # guard must decide (merge_into re-checks and skips the main
        # table); without fan-out the whole batch is a proven no-op.
        # Gated runs must also continue: the caller needs this batch's
        # lsn_max_seen/n_immature to recompute the pending store.
        if fanout is None and gold is None and not gated:
            return {"skipped": True, "batch_id": batch_id}
    # 1. control-plane events (DDL + renames) in ONE small collect —
    #    schema_change events are global barriers in the log (WAL DDL
    #    is totally ordered), so every data event in this batch
    #    parses against the post-DDL schema.
    # ONE aggregation job yields the whole control plane AND the batch
    # stats: DDL + rename rows (with the bucket ids of old and new keys
    # riding along), plus affected buckets / LSN range / row bound from
    # the data events. Per-batch driver-side job latency is the serial
    # floor of the pipeline — every saved job counts.
    is_ctl = F.col("event_type").isin("schema_change", "file_rename")
    is_data = F.col("event_type").isin(*REPO_EVENT_TYPES)
    is_up = (F.col("event_type") == "file_upsert") & F.col("op").isin("c", "r", "u")
    # F5 maturity gate, fused into the control aggregation: every
    # evidence/control term below is conditioned on maturity, the
    # unconditioned max(lsn)/immature count ride the SAME aggregation
    # (zero extra driver jobs vs. ungated), and the data path filters to
    # the mature side right after the agg.
    if gated:
        mature = (
            F.lit(False)
            if mature_lsn is None
            else (F.col("lsn") <= F.lit(mature_lsn))
        )
        is_ctl = is_ctl & mature
        is_data = is_data & mature
        is_up = is_up & mature
    else:
        mature = F.lit(True)
    # structurally malformed: PERMISSIVE from_json yields an all-null
    # struct for corrupt JSON (NOT a null struct), so test the required
    # field — same definition the parser uses for `_malformed`
    bad_json = F.from_json("payload", _UPSERT_WIRE).getField("content_z").isNull()
    # F7 learned blacklist: exclude known-malformed rows (active repos'
    # structurally-bad upserts — never their well-formed ones, so a
    # wrong promotion can never lose data) BEFORE anything; collect this
    # batch's evidence in the same control aggregation
    bl_evidence = []
    if blacklist is not None:
        excl = blacklist.exclusion_expr(bad_json)
        if excl is not None:
            events = events.filter(excl)
        watched = blacklist.watched()
        bl_evidence = [
            F.slice(
                F.collect_set(F.when(is_up & bad_json, F.col("repo"))), 1, 4096
            ).alias("_bl_bad"),
            # exact distinct count rides along so a binding cap is
            # REPORTED, not silent (bl_bad_capped in the result)
            F.count_distinct(
                F.when(is_up & bad_json, F.col("repo"))
            ).alias("_bl_bad_n"),
            F.slice(
                F.collect_set(
                    F.when(
                        is_up & ~bad_json & F.col("repo").isin(watched),
                        F.col("repo"),
                    )
                    if watched
                    else F.lit(None).cast("string")
                ),
                1,
                4096,
            ).alias("_bl_ok"),
        ]
    bucket = table.bucket_expr(m)
    # each sink's merge stats (row bound, LSN range, buckets) ride this
    # aggregation too, so no sink merge persists or runs a stats job
    golds = (
        list(gold) if isinstance(gold, (list, tuple))
        else ([gold] if gold is not None else [])
    )
    silver_stats = fanout.control_stats(mature) if fanout is not None else {}
    gold_stats = {g.name: g.control_stats(mature) for g in golds}
    bucket_new = F.pmod(
        F.hash(F.col("repo"), F.get_json_object("payload", "$.new_path")),
        F.lit(m["bucket_count"]),
    ).cast("int")
    row0 = events.agg(
        F.count(F.when(is_data, 1)).alias("n"),
        F.min(F.when(is_data, F.col("lsn"))).alias("lsn_min"),
        F.max(F.when(is_data, F.col("lsn"))).alias("lsn_max"),
        F.collect_set(F.when(is_data, bucket)).alias("buckets"),
        # structurally-malformed upserts (unparseable payload JSON),
        # counted JVM-side in THIS aggregation (pyspark's Observation
        # never fires for foreachBatch batch queries). Codec-level
        # failures on valid JSON (corrupt zlib payload) are still
        # nulled+filtered by the parser but are not in this count.
        F.count(F.when(is_up & bad_json, 1)).alias("n_malformed"),
        # hot-key sketch: the merge's salting decision costs no job
        *([monitor.sketch(is_data).alias("_hot")] if monitor is not None else []),
        *bl_evidence,
        # which event types are present (skips fan-out work per batch)
        # and the mature-side max LSN (gold recompute version)
        F.collect_set(F.when(mature, F.col("event_type"))).alias("types"),
        F.max(F.when(mature, F.col("lsn"))).alias("lsn_max_all"),
        # gate bookkeeping: batch-wide max (advances the gate's cutoff
        # for the NEXT batch) and the deferred-row count — same agg,
        # zero extra jobs
        F.max("lsn").alias("_lsn_max_seen"),
        F.count(F.when(~mature, F.lit(1))).alias("_n_immature"),
        *[c.alias(f"_silver_{n}") for n, c in silver_stats.items()],
        *[c.alias(f"_gold_{n}") for n, c in gold_stats.items()],
        F.collect_list(
            F.when(
                is_ctl,
                F.struct(
                    F.col("lsn").alias("lsn"),
                    F.col("event_type").alias("event_type"),
                    F.col("repo").alias("repo"),
                    F.col("path").alias("path"),
                    # full payload only for the few DDL rows; renames ship
                    # just the extracted new_path (collect goes through the
                    # single driver thread — bytes matter)
                    F.when(
                        F.col("event_type") == "schema_change", F.col("payload")
                    ).alias("payload"),
                    F.get_json_object("payload", "$.new_path").alias("new_path"),
                    bucket.alias("_bucket"),
                    bucket_new.alias("_bucket_new"),
                ),
            )
        ).alias("ctl"),
    ).collect()[0]
    ctl = row0["ctl"]
    bl_capped = False
    if blacklist is not None:
        bl_capped = (row0["_bl_bad_n"] or 0) > 4096
        blacklist.observe(
            [r for r in (row0["_bl_bad"] or []) if r],
            [r for r in (row0["_bl_ok"] or []) if r],
            # replayed epochs / ungated pending re-flushes must not
            # re-count the same malformed-only evidence
            None if replayed else batch_id,
            bad_capped=bl_capped,
        )
    if gated:
        events = events.filter(mature)
    ddl = [
        {**json.loads(r["payload"]), "lsn": r["lsn"]}
        for r in ctl
        if r["event_type"] == "schema_change" and r["payload"]
    ]
    applied_ddl = _apply_ddl(table, ddl)

    cols = table.schema().fieldNames()
    lang_col = "language" if "language" in cols else "lang"
    reg = registry or default_registry(lang_col)
    data_cols = [c for c in cols if c not in ("repo", "path", "lsn")]

    precomputed = {
        "n_upper": row0["n"],
        "lsn_min": row0["lsn_min"],
        "lsn_max": row0["lsn_max"],
        "buckets": list(row0["buckets"])
        + [r["_bucket_new"] for r in ctl if r["event_type"] == "file_rename"],
    }

    # 2. vectorized per-event-type parse. NOT cached: the merge decodes
    #    the batch exactly once inside its write pipeline; the rename
    #    lookup decodes only the pre-filtered old-key rows.
    ups = reg.route(events, reg.get("file_upsert"))
    ups_ok = ups.filter(~F.col("_malformed")).drop("_malformed")
    dels = reg.route(events, reg.get("file_delete"))
    ren = [r for r in ctl if r["event_type"] == "file_rename"]
    synth_df, n_renames, n_chained = _resolve_renames(
        spark, table, events, reg, ren, data_cols
    )
    updates = ups_ok.unionByName(dels, allowMissingColumns=True)
    if synth_df is not None:
        updates = updates.unionByName(synth_df, allowMissingColumns=True)

    # 3. hot keys (sketched by the control aggregation) -> salted merge
    salt = (
        monitor.salt_for(row0["_hot"], row0["n"]) if monitor is not None else None
    )

    result = merge_into(
        table, updates, batch_id=batch_id, salt=salt, precomputed=precomputed
    )

    # silver fan-out + incremental gold maintenance: each table carries
    # its own batch_id guard, so a crash between any two commits heals
    # on replay (the un-committed ones re-apply, the committed skip)
    types_present = set(row0["types"] or [])
    if fanout is not None:
        result["silver"] = fanout.apply(
            events, batch_id=batch_id, types_present=types_present,
            precomputed={n: row0[f"_silver_{n}"].asDict() for n in silver_stats},
        )
    gres = {
        g.name: g.update(
            events, batch_id=batch_id, lsn_max=row0["lsn_max_all"],
            precomputed=row0[f"_gold_{g.name}"].asDict(),
        )
        for g in golds
        if types_present & set(g.trigger_types)
    }
    if gres:
        result["gold"] = gres

    # absolute wall interval of this batch: benchmark CPU attribution
    # must sample the batch's REAL window, not one reconstructed from
    # cumulative durations
    result.update(
        ddl=applied_ddl, salt=salt, t_wall=[t0, time.time()],
        # batch stats come from the control aggregation: no extra jobs
        n_events=row0["n"], n_malformed=row0["n_malformed"],
        n_renames=n_renames, n_chained_renames=n_chained,
    )
    if blacklist is not None:
        result["bl_bad_capped"] = bl_capped
    if gated:
        result["lsn_max_seen"] = row0["_lsn_max_seen"]
        result["n_immature"] = row0["_n_immature"]
    return result


class _MaturityGate:
    """Runtime event-age gate (reference F5: MIN_MATURITY_SECONDS —
    parser/main.py:22-23,60-63 sleeps until an event is old enough that
    every sibling-table row it depends on has landed).

    Micro-batch re-expression: events younger than `maturity` LSN-units
    below the maximum LSN seen are DEFERRED to the next batch instead of
    slept on. Invariant: if arrival jitter is bounded by `maturity`
    (arrival position <= lsn + maturity), then every event with
    lsn <= max_seen_lsn - maturity has certainly arrived, so the mature
    set is LSN-complete — cross-key dependencies (renames reading the
    old key's latest pre-rename write) resolve correctly even when the
    upstream is NOT polite about per-key arrival barriers.

    Zero probe jobs: the cutoff uses the max LSN AS OF THE PREVIOUS
    commit, persisted as a number in the pointer file, and each batch's
    new max rides the pipeline's control aggregation. A lagged cutoff is
    strictly MORE conservative (defers more), so the completeness
    invariant holds; the one-batch lag drains at end-of-log via
    flush_pending.

    Deferred events live in a tiny parquet pending store next to the
    checkpoint, advanced by an atomic JSON pointer swap
    ({tag, max_seen, n_pending}) AFTER the sink commits; superseded
    pending version dirs are garbage-collected on each swap. Replay-safe:
    the split is a deterministic function of (incoming ∪ pending,
    persisted max_seen), and a replayed epoch recomputes a pending state
    whose applied complement is absorbed by the merge's batch_id / LSN
    guards.
    """

    def __init__(self, spark: SparkSession, state_dir: str, maturity: int):
        self.spark = spark
        self.dir = state_dir
        self.maturity = maturity
        os.makedirs(state_dir, exist_ok=True)

    def _meta(self) -> dict:
        p = os.path.join(self.dir, "_current")
        if not os.path.exists(p):
            return {
                "tag": None, "max_seen": None, "n_pending": 0,
                "batch_id": None, "cutoff_used": None,
            }
        with open(p) as f:
            return json.load(f)

    def max_seen(self) -> int | None:
        return self._meta()["max_seen"]

    def n_pending(self) -> int:
        return self._meta()["n_pending"]

    def cutoff(self) -> int | None:
        """Mature iff lsn <= cutoff; None = nothing certified yet."""
        mx = self.max_seen()
        return None if mx is None else mx - self.maturity

    def read_pending(self) -> DataFrame | None:
        meta = self._meta()
        if meta["tag"] is None or meta["n_pending"] == 0:
            return None
        path = os.path.join(self.dir, meta["tag"])
        return self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)

    def commit(
        self,
        immature: DataFrame | None,
        batch_id,
        max_seen: int | None,
        n_pending: int,
        cutoff_used: int | None = None,
    ) -> None:
        """Persist the deferred set and swap the pointer (AFTER the sink
        committed the mature set — the pointer swap is the gate's own
        commit point). `batch_id`/`cutoff_used` make the split
        replay-deterministic: a replayed epoch whose gate commit already
        landed must re-split with the SAME cutoff, not the advanced one
        (otherwise newly-mature events are both merge-skipped by the
        batch_id guard and dropped from pending — lost). Superseded v*
        dirs are GC'd after the swap."""
        import shutil
        import uuid

        tag = None
        if immature is not None and n_pending > 0:
            # tag is UNIQUE per commit, never reused across replays of
            # the same batch_id: a replayed epoch's `immature` plan may
            # read the previous v{batch_id} dir (read_pending unioned
            # into the split), and mode("overwrite") deletes the files
            # being read — any recompute of an unpersisted partition
            # would then see missing input (silent pending loss). Fresh
            # dir + pointer swap + GC makes the write never alias a
            # potential read.
            tag = f"v{batch_id}_{uuid.uuid4().hex[:8]}"
            immature.write.parquet(os.path.join(self.dir, tag))
        prev = self._meta().get("tag")
        ptr = os.path.join(self.dir, "_current")
        tmp = ptr + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(
                {
                    "tag": tag, "prev_tag": prev, "max_seen": max_seen,
                    "n_pending": n_pending,
                    "batch_id": batch_id, "cutoff_used": cutoff_used,
                }
            ))
        os.replace(tmp, ptr)
        # GC spares the immediately-previous tag too: the CURRENT
        # batch's plans may still lazily recompute from it (it was this
        # batch's read_pending input); it dies at the NEXT commit, by
        # which time the batch that read it has returned.
        for name in os.listdir(self.dir):
            if name.startswith("v") and name not in (tag, prev):
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)

    def cutoff_for_batch(self, batch_id: int) -> int | None:
        """The cutoff to split this epoch with: the persisted cutoff if
        this exact epoch's gate commit already landed (replay after a
        crash between gate commit and checkpoint commit), else the
        current max_seen - maturity."""
        meta = self._meta()
        if meta.get("batch_id") == batch_id:
            return meta.get("cutoff_used")
        return self.cutoff()


class CdcPipeline:
    """Streaming (and batch-replay) driver around apply_batch."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        event_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 4,
        fanout=None,   # cdc.silver.SilverFanout
        gold=None,     # gold maintainer or list of maintainers
        source: str = "files",                      # 'files' | 'kafka'
        kafka_options: dict[str, str] | None = None,
        maturity: int | None = None,   # event-age gate in LSN units (F5)
        blacklist=None,  # cdc.blacklist.LearnedBlacklist (F7), opt-in
        novel_feed=None,  # cdc.curation.NovelContentFeed over this table
    ):
        # the rename-resolution layer is specialized to the (repo, path)
        # key (rename components, synthetic-row construction); wiring
        # a table with other keys would silently mis-resolve renames
        if table.key_fields() != ["repo", "path"]:
            raise ValueError(
                "CdcPipeline requires a table keyed by ['repo', 'path']; "
                f"got {table.key_fields()} (use merge_into directly for "
                "generic-keyed tables)"
            )
        self.spark = spark
        self.table = table
        self.event_dir = event_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.source = source
        self.kafka_options = kafka_options
        self.gate = (
            _MaturityGate(spark, checkpoint_dir + "_pending", maturity)
            if maturity is not None
            else None
        )
        self.monitor = HotKeyMonitor(table.key_fields())
        self.fanout = fanout
        self.gold = gold
        self.blacklist = blacklist
        self.batches_applied = 0
        self.batch_results: list[dict] = []
        self.fail_after: int | None = None  # test hook: crash injection
        # Curation sink: a NovelContentFeed whose change-feed consumer
        # tails THIS pipeline's table, drained after each apply. Its
        # cursor, index batch guard and sink merge guard each heal
        # independently, so a kill between the main-table commit and
        # any feed commit re-drains on the next epoch (or restart) with
        # the same version-derived batch id — tested in test_curation_feed.
        if novel_feed is not None and novel_feed.source.root != table.root:
            raise ValueError(
                "novel_feed must consume this pipeline's table "
                f"({table.root}); it reads {novel_feed.source.root}"
            )
        self.novel_feed = novel_feed

    def _apply(
        self, events: DataFrame, batch_id: int | None, cutoff: int | None = None
    ) -> dict:
        """The one apply path: apply_batch, the gate's pointer commit,
        the curation-feed drain, bookkeeping, then the crash hook.
        Streaming epochs of a gated pipeline split `events` at `cutoff`;
        the end-of-log flush (batch_id None) applies its set whole."""
        res = apply_batch(
            self.spark,
            self.table,
            events,
            batch_id=batch_id,
            monitor=self.monitor,
            fanout=self.fanout,
            gold=self.gold,
            blacklist=self.blacklist,
            mature_lsn=cutoff,
            gated=self.gate is not None and batch_id is not None,
        )
        if self.gate is not None:
            # pointer swap only after every sink commit above succeeded;
            # an ungated flush defers nothing, which empties the store
            # while keeping max_seen (a repeated availableNow run must
            # not re-apply the drained set)
            n_imm = res.get("n_immature") or 0
            immature = (
                events.filter(F.col("lsn") > F.lit(cutoff))
                if cutoff is not None
                else events
            )
            seen = [
                x for x in (self.gate.max_seen(), res.get("lsn_max_seen"))
                if x is not None
            ]
            self.gate.commit(
                immature if n_imm > 0 else None,
                batch_id,
                max(seen) if seen else None,
                n_imm,
                cutoff_used=cutoff,
            )
        if self.novel_feed is not None:
            # drain the curation feed over the commit(s) this apply just
            # made — before the checkpoint records the batch, so a crash
            # in here redelivers the batch and the feed's own guards
            # replay/skip as needed
            self.novel_feed.run()
        self.batch_results.append(res)
        self.batches_applied += 1
        if self.fail_after is not None and self.batches_applied >= self.fail_after:
            # simulate a crash AFTER the sink committed but BEFORE the
            # checkpoint recorded the batch — the exactly-once razor's edge
            raise RuntimeError("injected crash after sink commit")
        return res

    def _handle(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.gate is None:
            self._apply(batch_df, batch_id)
            return
        pend = self.gate.read_pending()
        allev = batch_df if pend is None else batch_df.unionByName(pend)
        allev = allev.persist()
        try:
            self._apply(allev, batch_id, self.gate.cutoff_for_batch(batch_id))
        finally:
            allev.unpersist()

    def run_streaming(
        self, available_now: bool = True, metrics_path: str | None = None
    ) -> None:
        listener = None
        if metrics_path is not None:
            from ..streaming.metrics import attach_metrics_listener

            listener = attach_metrics_listener(self.spark, metrics_path)
        from .kafka_io import change_event_stream

        stream = change_event_stream(
            self.spark,
            self.source,
            event_dir=self.event_dir,
            max_files_per_trigger=self.max_files_per_trigger,
            kafka_options=self.kafka_options,
        )
        writer = stream.writeStream.foreachBatch(self._handle).option(
            "checkpointLocation", self.checkpoint_dir
        )
        q = writer.trigger(availableNow=True).start() if available_now else writer.start()
        try:
            q.awaitTermination()
        finally:
            if listener is not None:
                self.spark.streams.removeListener(listener)
        if available_now and self.gate is not None:
            self.flush_pending()

    def flush_pending(self) -> dict | None:
        """Drain the maturity gate's deferred events at end-of-log
        (availableNow replay). Applied WITHOUT a batch_id: the merge's
        LSN guards + in-batch dedup make a repeated flush a no-op, so a
        crash between apply and the pointer swap is safe — and after the
        swap, a repeated availableNow run skips the flush entirely with
        zero jobs (n_pending lives in the pointer file)."""
        if self.gate is None or self.gate.n_pending() == 0:
            return None
        pend = self.gate.read_pending()
        if pend is None:
            return None
        return self._apply(pend, batch_id=None)

    def run_batch(self) -> dict:
        # one-shot batch replay reads the parquet log directly and
        # applies everything in a single ungated pass — a Kafka source
        # or a maturity gate would be silently ignored, so reject the
        # combination instead (use run_streaming for both)
        if self.source != "files":
            raise ValueError(
                f"run_batch reads the parquet event log; source="
                f"{self.source!r} requires run_streaming()"
            )
        if self.gate is not None:
            raise ValueError(
                "run_batch applies all events in one ungated pass; the "
                "maturity gate requires run_streaming()"
            )
        events = self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(self.event_dir)
        return self._apply(events, batch_id=None)
