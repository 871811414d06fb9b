"""NearDupIndex: incremental MinHash near-dup dedup of a corpus delta
against the historical corpus — decision rule, replay, crash heal."""

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.lake import NearDupIndex
from ton_etl_spark.lake.merge import merge_into

# k=1 shingles = distinct words. BASE has 10 words; changing one word
# gives Jaccard 9/11 ~ 0.818 >= 0.8; changing two gives 8/12 ~ 0.667.
BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NEAR_A = BASE.replace("alpha", "omega")          # J(BASE)=0.818
NEAR_B = BASE.replace("beta", "sigma")           # J(BASE)=0.818, J(NEAR_A)=0.667
FAR = "one two three four five six seven eight nine ten"


@pytest.fixture()
def idx(spark, tmp_path):
    return NearDupIndex.create(spark, str(tmp_path / "nd_idx"), bucket_count=4)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _novel(idx, df, batch, corpus=None):
    return sorted(
        r["doc_id"]
        for r in idx.filter_novel(
            df, "doc_id", "text", batch, corpus_text=corpus
        ).collect()
    )


def test_within_batch_lower_id_keeper(spark, idx):
    b = _batch(spark, [(1, BASE), (2, NEAR_A), (3, FAR)])
    corpus = b
    # 2 is a near-dup of lower-id 1 -> dropped; 3 unrelated -> kept
    assert _novel(idx, b, 1, corpus) == [1, 3]


def test_cross_batch_drop_vs_kept_doc(spark, idx):
    b1 = _batch(spark, [(1, BASE), (2, FAR)])
    assert _novel(idx, b1, 1, b1) == [1, 2]
    b2 = _batch(spark, [(3, NEAR_A), (4, "totally different words here")])
    # 3 near-dups the kept historical doc 1 -> dropped
    assert _novel(idx, b2, 2, b1) == [4]


def test_near_dup_of_dropped_doc_stays_novel(spark, idx):
    """The bands index holds KEPT docs only: a new doc similar to a
    previously DROPPED doc (but to no kept doc) is novel — the
    discriminator between index-based and naive full-history dedup."""
    b1 = _batch(spark, [(1, BASE), (2, NEAR_A)])   # 2 dropped (dup of 1)
    assert _novel(idx, b1, 1, b1) == [1]
    # NEAR_B: J(NEAR_A)=0.667 < 0.8... construct vs the DROPPED doc:
    # need J(new, NEAR_A) >= 0.8 and J(new, BASE) < 0.8
    near_of_dropped = NEAR_A.replace("beta", "sigma")  # J(NEAR_A)=.818, J(BASE)=.667
    b2 = _batch(spark, [(3, near_of_dropped)])
    assert _novel(idx, b2, 2, b1) == [3]


def test_replay_returns_original_novel_set_and_no_version_bump(spark, idx):
    b1 = _batch(spark, [(1, BASE), (2, FAR)])
    _novel(idx, b1, 1, b1)
    b2 = _batch(spark, [(3, NEAR_A), (4, "other unrelated words entirely")])
    first = _novel(idx, b2, 2, b1)
    assert first == [4]
    vd = idx.docs_table.current_version()
    vb = idx.bands_table.current_version()
    assert _novel(idx, b2, 2, b1) == first
    assert idx.docs_table.current_version() == vd
    assert idx.bands_table.current_version() == vb


def test_crash_between_band_and_doc_commits_heals(spark, tmp_path, idx):
    """Simulate a crash AFTER the bands merge but BEFORE the docs merge
    of batch 2: redelivery must produce the same novel set (the bands
    read pins to the pre-batch version) and complete the docs commit."""
    b1 = _batch(spark, [(1, BASE), (2, FAR)])
    _novel(idx, b1, 1, b1)
    b2 = _batch(spark, [(3, NEAR_A), (4, "other unrelated words entirely")])

    # reference run on a twin index = the crash-free answer
    twin = NearDupIndex.create(spark, str(tmp_path / "twin"), bucket_count=4)
    _novel(twin, b1, 1, b1)
    expected = _novel(twin, b2, 2, b1)

    # inject batch 2's bands commit only (what a crash would leave):
    # replant the twin's batch-2 band rows into idx.bands_table
    crash_bands = twin.bands_table.read().filter(F.col("lsn") == 2).select(
        "band", "band_hash", "doc_id", "lsn", F.lit("c").alias("op")
    )
    merge_into(idx.bands_table, crash_bands, batch_id=2)
    assert idx.bands_table.manifest()["batch_id"] == 2
    assert idx.docs_table.manifest()["batch_id"] == 1

    # redelivery heals: same novel set, docs table commits batch 2
    assert _novel(idx, b2, 2, b1) == expected
    assert idx.docs_table.manifest()["batch_id"] == 2
    # and a second redelivery is now a pure replay
    assert _novel(idx, b2, 2, b1) == expected


def test_signature_mode_detects_exact_and_keeps_distinct(spark, idx):
    """corpus_text=None -> signature-estimated verification: exact
    duplicates always estimate 1.0; clearly distinct docs estimate low."""
    b1 = _batch(spark, [(1, BASE), (2, FAR)])
    assert _novel(idx, b1, 1) == [1, 2]
    b2 = _batch(spark, [(3, BASE), (4, "entirely fresh vocabulary now")])
    assert _novel(idx, b2, 2) == [4]


def test_open_restores_lsh_params(spark, tmp_path):
    root = str(tmp_path / "params_idx")
    NearDupIndex.create(spark, root, bucket_count=4, n_perm=32, bands=8, k=2)
    reopened = NearDupIndex.open(spark, root)
    assert (reopened.n_perm, reopened.bands, reopened.k) == (32, 8, 2)


def test_novel_frame_stable_after_merge(spark, idx):
    b = _batch(spark, [(1, BASE), (2, FAR)])
    novel = idx.filter_novel(b, "doc_id", "text", 1, corpus_text=b)
    assert novel.count() == 2
    assert sorted(r["doc_id"] for r in novel.collect()) == [1, 2]
