"""F7 runtime-learned blacklist: bot repos (always-corrupt payloads)
are learned and excluded at runtime without affecting final-state
parity."""

from ton_etl_spark.cdc.blacklist import LearnedBlacklist
from ton_etl_spark.cdc.pipeline import CdcPipeline
from ton_etl_spark.datagen import GenParams, generate_events, write_event_log
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

from test_cdc_e2e import oracle_state, table_state


def test_blacklist_learns_bots_and_keeps_parity(spark, tmp_path):
    p = GenParams(
        n_events=4000, n_repos=20, paths_per_repo=10, n_files=12,
        p_bot_repos=0.2,
    )
    events = generate_events(p)
    bots = {
        e.repo for e in events
        if e.payload and e.payload.startswith('{"commit": "BOT_CORRUPT')
    }
    assert len(bots) >= 2

    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn",
        bucket_count=16,
    )
    bl = LearnedBlacklist(min_batches=2)
    pipe = CdcPipeline(
        spark, table, log_dir, str(tmp_path / "cp"),
        max_files_per_trigger=2, blacklist=bl,
    )
    pipe.run_streaming()

    # the blacklist actually learned the bots...
    assert bl.active, "no repos were learned"
    assert bl.active <= bots, f"false positives: {bl.active - bots}"
    # ...and never a healthy repo
    healthy = {e.repo for e in events if e.repo} - bots
    assert not (bl.active & healthy)

    # parity: final state identical to the oracle (blacklisted events
    # carried no decodable content, so exclusion is semantics-free)
    expected, _ = oracle_state(events)
    assert table_state(table) == expected


def test_blacklist_unit_promotion_rules():
    from pyspark.sql import functions as F

    malformed = F.lit(True)
    bl = LearnedBlacklist(min_batches=3)
    # three DISTINCT malformed-only batches promote
    for b in range(3):
        bl.observe(["botA"], [], batch_id=b)
    assert bl.active == {"botA"}
    # a well-formed sighting exempts forever
    bl.observe(["repoB"], [], batch_id=3)
    bl.observe(["repoB"], ["repoB"], batch_id=4)
    for b in range(5, 10):
        bl.observe(["repoB"], [], batch_id=b)
    assert "repoB" not in bl.active
    # replayed/repeated batch_ids never double-count
    bl2 = LearnedBlacklist(min_batches=3)
    for _ in range(10):
        bl2.observe(["botC"], [], batch_id=7)   # same epoch replayed
    assert not bl2.active
    for _ in range(10):
        bl2.observe(["botC"], [], batch_id=None)  # pending re-flushes
    assert not bl2.active
    bl2.observe(["botC"], [], batch_id=8)
    bl2.observe(["botC"], [], batch_id=9)
    assert bl2.active == {"botC"}
    # ...and active repos stay watched: a later ok sighting un-promotes
    assert "botC" in bl2.watched()
    bl2.observe([], ["botC"], batch_id=10)
    assert not bl2.active
    # binding evidence cap is reported, not silent
    bl2.observe([], [], batch_id=11, bad_capped=True)
    assert bl2.cap_hits == 1
    # exclusion expr only filters known-malformed rows of active repos
    bl3 = LearnedBlacklist(min_batches=1)
    bl3.observe(["botD"], [], batch_id=0)
    assert bl3.exclusion_expr(malformed) is not None
    empty = LearnedBlacklist()
    assert empty.exclusion_expr(malformed) is None


def test_exclusion_retains_null_repo_rows(spark):
    """Once any repo is active, a malformed upsert with NULL
    repo made the exclusion predicate NULL (tri-valued logic) and the
    row was silently filtered. Rows the exclusion has no verdict on
    must pass through to the parsers."""
    from pyspark.sql import functions as F

    bl = LearnedBlacklist(min_batches=1)
    bl.observe(["bot"], [], batch_id=0)
    assert bl.active == {"bot"}

    df = spark.createDataFrame(
        [
            ("bot", "file_upsert", None),      # active + malformed: drop
            ("bot", "file_upsert", "x"),       # active + well-formed: keep
            (None, "file_upsert", None),       # NULL repo: keep (no verdict)
            (None, "other", None),             # NULL repo, not upsert: keep
            ("ok", "file_upsert", None),       # inactive repo: keep
        ],
        "repo string, event_type string, payload string",
    )
    kept = df.filter(bl.exclusion_expr(F.col("payload").isNull()))
    got = {(r["repo"], r["event_type"], r["payload"]) for r in kept.collect()}
    assert got == {
        ("bot", "file_upsert", "x"),
        (None, "file_upsert", None),
        (None, "other", None),
        ("ok", "file_upsert", None),
    }
