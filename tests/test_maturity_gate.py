"""Runtime maturity gate (F5): the pipeline must produce oracle-exact
state even when the generator's per-key rename arrival barriers are
DISABLED — i.e., a rename can arrive in an earlier micro-batch than
older writes to its key. The gate defers young events until the log is
provably LSN-complete below the cutoff (arrival jitter bound), exactly
the role of the reference's MIN_MATURITY_SECONDS sleep
(parser/main.py:22-23,60-63)."""

import pytest

from ton_etl_spark.cdc.pipeline import CdcPipeline
from ton_etl_spark.datagen import (
    ARRIVAL_JITTER,
    GenParams,
    generate_events,
    write_event_log,
)
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

from test_cdc_e2e import mv, oracle_state, read_log, table_state

PARAMS = GenParams(
    n_events=4000,
    n_repos=20,
    paths_per_repo=15,
    n_files=10,
    p_rename=0.06,
    rename_barrier=False,   # renames jitter like every other event
)
MATURITY = int(ARRIVAL_JITTER) + 50


def _mk(spark, tmp_path, log_dir, maturity=MATURITY):
    try:
        table = LakeTable.create(
            spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
            "lsn", bucket_count=16,
        )
    except FileExistsError:
        table = LakeTable(spark, str(tmp_path / "lake"))
    pipe = CdcPipeline(
        spark, table, log_dir, str(tmp_path / "cp"),
        max_files_per_trigger=2, maturity=maturity,
    )
    return table, pipe


def test_gate_replay_matches_oracle_without_barriers(spark, tmp_path):
    events = generate_events(PARAMS)
    # the scenario is real: some rename arrives before an older write
    arr = {}
    disordered = 0
    for pos, e in enumerate(events):
        arr[e.lsn] = pos
    for e in events:
        if e.event_type == "file_rename":
            if any(
                o.lsn < e.lsn and arr[o.lsn] > arr[e.lsn]
                for o in events
                if o.repo == e.repo and o.path == e.path
            ):
                disordered += 1
    assert disordered > 0, "generator produced no disordered renames"

    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, PARAMS.n_files)
    table, pipe = _mk(spark, tmp_path, log_dir)
    pipe.run_streaming()

    expected, _ = oracle_state(events)
    got = table_state(table)
    assert got == expected
    # the end-of-log flush is an apply like any other: counted, so CLI
    # `stream --maturity` reports every batch it appended
    assert pipe.batches_applied == len(pipe.batch_results)


def test_gate_resume_after_kill(spark, tmp_path):
    events = generate_events(PARAMS)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, PARAMS.n_files)

    table, pipe = _mk(spark, tmp_path, log_dir)
    pipe.fail_after = 2
    with pytest.raises(Exception):
        pipe.run_streaming()

    table, pipe2 = _mk(spark, tmp_path, log_dir)
    pipe2.run_streaming()
    expected, _ = oracle_state(events)
    assert table_state(table) == expected

    # re-run on the drained checkpoint: flush replays are no-ops
    v = table.current_version()
    _, pipe3 = _mk(spark, tmp_path, log_dir)
    pipe3.run_streaming()
    assert table_state(table) == expected


def test_gated_apply_runs_no_extra_jobs(spark, tmp_path):
    """The gate's bookkeeping (max-LSN seen, immature count) rides the
    pipeline's single control-plane aggregation: a gated apply_batch
    must schedule EXACTLY as many Spark jobs as an ungated one on the
    same input (a dedicated max-LSN collect would be one extra
    serial driver job per batch)."""
    from ton_etl_spark.cdc.pipeline import apply_batch
    from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    p = GenParams(n_events=600, n_repos=8, n_files=2)
    events = generate_events(p)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)
    ev = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)
    max_lsn = max(e.lsn for e in events)

    def count_jobs(gated: bool, sub: str) -> int:
        table = LakeTable.create(
            spark, str(tmp_path / f"lake_{sub}"), REPOS_SCHEMA,
            REPOS_KEY_FIELDS, "lsn", bucket_count=8,
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        apply_batch(
            spark, table, ev, batch_id=0,
            mature_lsn=max_lsn if gated else None, gated=gated,
        )
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    ungated = count_jobs(False, "u")
    gated = count_jobs(True, "g")
    assert gated == ungated, (gated, ungated)


def test_renames_run_few_extra_jobs(spark, tmp_path):
    """The rename resolver emits the merge rows (old-key deletes,
    new-key upserts with the moved content) itself, inside the merge
    action: no persisted candidates, no broadcast of its output, no
    join back onto the candidates. A batch with 2 renames of preloaded
    keys may schedule at most 3 Spark jobs more than the same batch
    without them (the design that fetched the moved content by a join
    scheduled 7 more)."""
    from ton_etl_spark.cdc.pipeline import apply_batch
    from ton_etl_spark.datagen import Event, encode_payload

    repo = "org0/repo0"

    def up(lsn, path):
        return Event(lsn, "r", "file_upsert", repo, path,
                     encode_payload(repo, path, lsn, False, False, False),
                     arrival=float(lsn), ts_ms=lsn)

    preload = read_log(
        spark, tmp_path, "ev0", [up(i + 1, f"k{i}.py") for i in range(400)]
    )
    writes = [up(1000 + i, f"k{i}.py") for i in range(0, 40, 2)]
    renames = [mv(2000 + i, f"k{i}.py", f"moved{i}.py") for i in (301, 303)]

    def count_jobs(evs, sub: str) -> int:
        table = LakeTable.create(
            spark, str(tmp_path / f"lake_{sub}"), REPOS_SCHEMA,
            REPOS_KEY_FIELDS, "lsn", bucket_count=16,
        )
        apply_batch(spark, table, preload, batch_id=0)
        batch = read_log(spark, tmp_path, f"ev_{sub}", evs)
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        apply_batch(spark, table, batch, batch_id=1)
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    plain = count_jobs(writes, "plain")
    renamed = count_jobs(writes + renames, "renamed")
    assert renamed - plain <= 3, (renamed, plain)
