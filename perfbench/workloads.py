"""The benchmark's workloads and the closed loops that drive them.

Every workload is a closed loop: the next micro-batch starts only after
the previous one has committed. The program is driven from outside,
through its public API only.

bulk_replay / bulk_replay_1core
    `CdcPipeline.run_streaming` (availableNow) replays the whole log
    into a fresh lake, one log file per micro-batch; replays repeat
    while the next is expected to end inside the measuring time. After
    each replay, fresh `ChangeFeedConsumer`s catch up on the new table
    (the read metric).
trickle_tail
    Set-up preloads the lake with a snapshot (op='r') through
    `apply_batch`; then each log file is one `apply_batch` call with
    `SilverFanout` and both gold maintainers attached, and after every
    commit one `ChangeFeedConsumer.poll` reads the new commits.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass

from inputs import Shape, batch_files, read_events
from stats import median

BUCKETS = 16   # main-table bucket count, the same for every workload
CATCH_UP_READS = 5   # bulk: fresh consumers reading each replayed table
# trickle: the first batch after set-up still compiles the silver and
# gold plans; a median of three is robust to it
MIN_TAIL_BATCHES = 3

BULK = Shape(
    kind="bulk", n_events=40_000, n_files=3, n_repos=4, paths_per_repo=50,
    hot_share=0.3, warmup_events=4_000,
)
TRICKLE = Shape(
    kind="trickle", n_events=2_400, n_files=8, n_repos=50,
    paths_per_repo=100, hot_share=0.0, zipf_a=0.0, p_facts=0.2, ddl=False,
    preload_keys=5_000, renames_per_batch=2,
)


@dataclass(frozen=True)
class Workload:
    cores: int
    shape: Shape


WORKLOADS = {
    "bulk_replay": Workload(4, BULK),
    "trickle_tail": Workload(4, TRICKLE),
    # off the recorded set (run budget); kept for scaling_eff
    "bulk_replay_1core": Workload(1, BULK),
}


class Ctx:
    """What a driver loop needs and what it reports back."""

    def __init__(self, spark, meta: dict, seconds: float, work: str, rec,
                 spawn_t: float):
        self.spark = spark
        self.meta = meta
        self.seconds = seconds
        self.work = work
        self.rec = rec
        self.spawn_t = spawn_t
        self.batches: list[dict] = []   # {'events', 'keys', 's'}
        self.reads: list[float] = []
        self.polls: list[dict] = []     # {'rows', 'changed'}
        self.write_bytes = 0
        self.lake_setups: list[float] = []
        self.first_batch_t: float | None = None
        self._setups_before = 0
        self.window: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.mismatches: list[str] = []

    def phase(self, name: str, batch: int | None = None) -> None:
        if self.rec is not None:
            self.rec.phase = name
            self.rec.batch = batch

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=8)}")

    def setup_s(self) -> float:
        """Process start to first measured batch, with the lake set-ups
        in that interval replaced by the median of all the run's lake
        set-ups."""
        before = sum(self.lake_setups[: self._setups_before])
        return (self.first_batch_t - self.spawn_t) - before + median(self.lake_setups)

    def more(self, units: list[float], min_units: int) -> bool:
        """Start another unit (a replay, or a micro-batch) only if the
        mean unit so far is expected to end inside the measuring window;
        always measure at least `min_units`."""
        if len(units) < min_units:
            return True
        elapsed = time.time() - self.first_batch_t
        return elapsed + sum(units) / len(units) <= self.seconds

    def mark_first_batch(self) -> None:
        if self.first_batch_t is None:
            self.first_batch_t = time.time()
            self._setups_before = len(self.lake_setups)
            self.window = [self.first_batch_t]


def _tree_bytes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    continue
    return out


def _read_poll(lo: int | None):
    """The consumer's processing function: materialize every delivered
    row, counting those changed at or after LSN `lo`."""
    from pyspark.sql import functions as F

    got = {}

    def fn(df):
        changed = (
            F.count(F.when(F.col("lsn") >= F.lit(lo), 1)) if lo is not None
            else F.count(F.lit(1))
        )
        r = df.agg(F.count(F.lit(1)).alias("n"), changed.alias("c")).collect()[0]
        got.update(rows=r["n"], changed=r["c"])

    return fn, got


def run_bulk(ctx: Ctx) -> None:
    import shutil

    import parity
    from ton_etl_spark.cdc import CdcPipeline
    from ton_etl_spark.lake import ChangeFeedConsumer, LakeTable
    from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    spark, meta = ctx.spark, ctx.meta
    counts = meta["batches"]
    files = batch_files(meta)
    expected = None   # computed after the first replay, outside set-up

    def fresh(tag: str):
        t = time.time()
        table = LakeTable.create(
            spark, os.path.join(ctx.work, f"lake_{tag}"), REPOS_SCHEMA,
            REPOS_KEY_FIELDS, "lsn", bucket_count=BUCKETS, overwrite=True,
        )
        cp = os.path.join(ctx.work, f"cp_{tag}")
        shutil.rmtree(cp, ignore_errors=True)
        ctx.lake_setups.append(time.time() - t)
        return table, cp

    ctx.phase("warmup")
    table, cp = fresh("warmup")
    CdcPipeline(spark, table, os.path.join(meta["dir"], "warmup"), cp,
                max_files_per_trigger=1).run_streaming()
    shutil.rmtree(table.root, ignore_errors=True)

    i = 0
    replays: list[float] = []
    while ctx.first_batch_t is None or ctx.more(replays, 1):
        table, cp = fresh(str(i))
        pipe = CdcPipeline(spark, table, meta["events_dir"], cp,
                           max_files_per_trigger=1)
        ctx.mark_first_batch()
        ctx.phase("measure")
        ctx.attempted += len(counts)
        t0 = time.time()
        try:
            pipe.run_streaming()
        except Exception:
            ctx.fail(f"replay {i}")
            break
        wall = time.time() - t0
        ctx.phase("post")
        ctx.window = [ctx.window[0], time.time()]
        done = [r for r in pipe.batch_results if not r.get("skipped")]
        if len(done) != len(counts):
            ctx.failed += len(counts) - len(done)
            ctx.errors.append(f"replay {i}: {len(done)} of {len(counts)} batches")
            break
        replays.append(wall)
        for r, c in zip(done, counts):
            ctx.batches.append({
                "events": c["events"], "keys": c["distinct_upsert_keys"],
                "s": r["t_wall"][1] - r["t_wall"][0],
            })
        ctx.write_bytes += sum(_tree_bytes(table.root).values())
        if expected is None:
            expected = parity.expected_state(meta, files, "all")
        ctx.mismatches += parity.diff(expected, parity.lake_state(table))
        if ctx.mismatches:
            break
        for j in range(CATCH_UP_READS):
            fn, got = _read_poll(None)
            cons = ChangeFeedConsumer(table, os.path.join(ctx.work, f"cur_{i}_{j}"))
            ctx.attempted += 1
            t0 = time.time()
            try:
                cons.poll(fn)
            except Exception:
                ctx.fail(f"read {i}.{j}")
                return
            ctx.reads.append(time.time() - t0)
        shutil.rmtree(table.root, ignore_errors=True)
        i += 1


def run_trickle(ctx: Ctx) -> None:
    import parity
    from ton_etl_spark.cdc import pipeline as P
    from ton_etl_spark.cdc.silver import SilverFanout
    from ton_etl_spark.cdc.skew import HotKeyMonitor
    from ton_etl_spark.gold import GoldAssetTvl, GoldDecayedPrice
    from ton_etl_spark.lake import ChangeFeedConsumer, LakeTable
    from ton_etl_spark.schemas import (
        CHANGE_EVENT_SCHEMA, REPOS_KEY_FIELDS, REPOS_SCHEMA,
    )

    spark, meta, work = ctx.spark, ctx.meta, ctx.work
    counts = meta["batches"]
    files = batch_files(meta)
    snap = batch_files(meta, "snapshot")

    def read(paths):
        return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)

    ctx.phase("setup")
    t = time.time()
    table = LakeTable.create(
        spark, os.path.join(work, "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=BUCKETS, overwrite=True,
    )
    fanout = SilverFanout(spark, os.path.join(work, "silver"))
    golds = [
        GoldDecayedPrice(spark, os.path.join(work, "gold_price"),
                         fanout.tables["trades"]),
        GoldAssetTvl(spark, os.path.join(work, "gold_tvl"),
                     fanout.tables["trades"]),
    ]
    monitor = HotKeyMonitor(table.key_fields())
    sinks = dict(monitor=monitor, fanout=fanout, gold=golds)
    P.apply_batch(spark, table, read(snap), batch_id=0, **sinks)
    ctx.lake_setups.append(time.time() - t)
    consumer = ChangeFeedConsumer(
        table, os.path.join(work, "cursor"), start_after=table.current_version()
    )
    roots = [table.root, os.path.join(work, "silver"),
             os.path.join(work, "gold_price"), os.path.join(work, "gold_tvl")]

    applied = 0
    before = _tree_bytes(*roots)
    ctx.mark_first_batch()
    units: list[float] = []
    for i, (path, c) in enumerate(zip(files, counts)):
        if not ctx.more(units, MIN_TAIL_BATCHES):
            break
        ctx.attempted += 2
        ctx.phase("measure", batch=i + 1)
        t0 = t_unit = time.time()
        try:
            P.apply_batch(spark, table, read([path]), batch_id=i + 1, **sinks)
        except Exception:
            ctx.fail(f"batch {i + 1}")
            break
        s = time.time() - t0
        applied = i + 1
        fn, got = _read_poll(c["data_lsn_min"])
        t0 = time.time()
        try:
            consumer.poll(fn)
        except Exception:
            ctx.fail(f"poll {i + 1}")
            break
        ctx.reads.append(time.time() - t0)
        units.append(time.time() - t_unit)
        ctx.batches.append(
            {"events": c["events"], "keys": c["distinct_upsert_keys"], "s": s}
        )
        ctx.polls.append(got)
    ctx.phase("post")
    ctx.window = [ctx.window[0], time.time()]
    after = _tree_bytes(*roots)
    ctx.write_bytes = sum(v for p, v in after.items() if p not in before)
    applied_files = snap + files[:applied]
    expected = parity.expected_state(meta, applied_files, f"n{applied}")
    ctx.mismatches += parity.diff(expected, parity.lake_state(table))
    ctx.mismatches += parity.silver_mismatches(fanout, read_events(applied_files))


DRIVERS = {"bulk": run_bulk, "trickle": run_trickle}
