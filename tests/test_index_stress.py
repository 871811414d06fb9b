"""Incremental-index stress: >= 20 micro-batches through DedupIndex and
NearDupIndex with duplicates, redeliveries, and a mid-sequence crash
between the two index commits, asserting final novel-set equality with
a single-threaded Python oracle.

Also bounds the `_bands_version_before` manifest-walk cost: it must
stay O(1) manifest reads per batch in forward progress (the walk only
backtracks on redelivery), never O(rounds) — at 20+ batches an
accidental quadratic walk would show up as an unbounded read count.
"""

import pytest
from pyspark.sql import functions as F

import ton_etl_spark.lake.neardup_index as ndi
from ton_etl_spark.lake import DedupIndex, NearDupIndex

N_BATCHES = 22
DOCS_PER_BATCH = 8
THRESHOLD = 0.8


def _doc_text(seed: int) -> str:
    """Deterministic 10-word doc from a 200-word vocabulary."""
    words = [f"w{(seed * 7 + i * 13) % 200}" for i in range(10)]
    # ensure 10 DISTINCT words so k=1 jaccard math is exact
    seen, out = set(), []
    for i, w in enumerate(words):
        while w in seen:
            w = w + "x"
        seen.add(w)
        out.append(w)
    return " ".join(out)


def _near(text: str, i: int) -> str:
    """Swap the i-th word for a fresh token: J = 9/11 ~ 0.818 >= 0.8."""
    ws = text.split()
    ws[i % len(ws)] = f"swap{i}"
    return " ".join(ws)


def _corpus():
    """(batch, [(doc_id, text)]) pairs mixing fresh docs, exact dups of
    earlier docs, and near-dups of earlier docs — all deterministic."""
    batches, all_docs = [], []
    for b in range(1, N_BATCHES + 1):
        rows = []
        for i in range(DOCS_PER_BATCH):
            doc_id = b * 100 + i
            kind = (b + i) % 4
            if kind == 0 or not all_docs:
                text = _doc_text(doc_id)
            elif kind == 1:  # exact dup of some earlier doc
                text = all_docs[(b * 3 + i) % len(all_docs)][1]
            elif kind == 2:  # near dup (J ~ 0.818) of some earlier doc
                text = _near(all_docs[(b * 5 + i) % len(all_docs)][1], b + i)
            else:            # near dup of a SAME-batch lower-id doc
                text = _near(rows[0][1], i) if rows else _doc_text(doc_id)
            rows.append((doc_id, text))
            all_docs.append((doc_id, text))
        batches.append((b, rows))
    return batches


def _jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return round(len(sa & sb) / len(sa | sb), 6)


def _oracle_near_dup(batches):
    """Single-threaded replay of the NearDupIndex decision rule:
    within a batch drop x iff a lower-id same-batch doc verifies;
    across batches drop x iff any historically KEPT doc verifies."""
    kept = []  # (doc_id, text) in keep order
    novel_by_batch = {}
    for b, rows in batches:
        novel = []
        for doc_id, text in sorted(rows):
            hit = any(
                _jaccard(text, t) >= THRESHOLD for _, t in kept
            ) or any(
                _jaccard(text, t2) >= THRESHOLD
                for d2, t2 in rows if d2 < doc_id
            )
            if not hit:
                novel.append(doc_id)
        kept.extend((d, t) for d, t in sorted(rows) if d in set(novel))
        novel_by_batch[b] = novel
    return novel_by_batch, [d for d, _ in kept]


def _oracle_exact(batches):
    """First-seen-content keeps; later identical content is dropped.
    Within a batch the lowest id of each content wins."""
    seen, novel_by_batch = set(), {}
    for b, rows in batches:
        novel = []
        for doc_id, text in sorted(rows):
            if text not in seen:
                seen.add(text)
                novel.append(doc_id)
        novel_by_batch[b] = novel
    return novel_by_batch


def test_neardup_index_20_batches_with_redelivery_and_crash(
    spark, tmp_path, monkeypatch
):
    batches = _corpus()
    want_by_batch, want_kept = _oracle_near_dup(batches)

    idx = NearDupIndex.create(spark, str(tmp_path / "nd"), bucket_count=4)

    # count manifest reads to bound the _bands_version_before walk
    reads = {"n": 0}
    orig_manifest = idx.bands_table.manifest

    def counting_manifest(version=None):
        reads["n"] += 1
        return orig_manifest(version)

    monkeypatch.setattr(idx.bands_table, "manifest", counting_manifest)

    corpus_rows: list = []
    got_kept: list = []
    for b, rows in batches:
        corpus_rows.extend(rows)
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        df = spark.createDataFrame(rows, "doc_id long, text string")

        if b == 11:
            # mid-sequence kill BETWEEN the two commits: let the bands
            # append succeed, crash before the docs append
            orig_append = ndi.append_insert
            calls = {"n": 0}

            def crashing_append(table, updates, **kw):
                calls["n"] += 1
                if calls["n"] == 2:
                    raise RuntimeError("simulated crash before docs commit")
                return orig_append(table, updates, **kw)

            monkeypatch.setattr(ndi, "append_insert", crashing_append)
            with pytest.raises(RuntimeError, match="simulated crash"):
                idx.filter_novel(df, "doc_id", "text", b, corpus_text=corpus)
            monkeypatch.setattr(ndi, "append_insert", orig_append)
            assert idx.bands_table.manifest()["batch_id"] == b
            assert idx.docs_table.manifest()["batch_id"] == b - 1

        novel = sorted(
            r["doc_id"]
            for r in idx.filter_novel(
                df, "doc_id", "text", b, corpus_text=corpus
            ).collect()
        )
        assert novel == want_by_batch[b], f"batch {b}"
        got_kept.extend(novel)

        if b % 5 == 0:
            # redelivery of a committed batch: same novel set, no bump
            vd = idx.docs_table.current_version()
            redo = sorted(
                r["doc_id"]
                for r in idx.filter_novel(
                    df, "doc_id", "text", b, corpus_text=corpus
                ).collect()
            )
            assert redo == novel, f"redelivery batch {b}"
            assert idx.docs_table.current_version() == vd

    assert got_kept == want_kept
    # kept-flag provenance in the index agrees with the oracle
    kept_in_index = sorted(
        r["doc_id"]
        for r in idx.docs_table.read().filter(F.col("kept")).collect()
    )
    assert kept_in_index == sorted(want_kept)

    # walk bound: O(1) manifest reads per filter_novel call. Calls:
    # 22 normal + 4 redeliveries + 1 crashed + 1 heal = 28; each does
    # the replay-guard read, the pin walk (<= 3 reads: head + one
    # backtrack on redelivery/heal), the bands read and the append
    # (~2 reads each). 12 per call is a loose ceiling that a linear
    # (O(version)) walk at v~22 would blow through.
    n_calls = N_BATCHES + 4 + 2
    assert reads["n"] <= 12 * n_calls, (
        f"{reads['n']} manifest reads over {n_calls} calls — "
        "the version walk is no longer O(1) per batch"
    )


def test_dedup_index_20_batches_with_redelivery(spark, tmp_path):
    batches = _corpus()
    want_by_batch = _oracle_exact(batches)

    idx = DedupIndex.create(spark, str(tmp_path / "xd"), bucket_count=4)
    for b, rows in batches:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        novel = sorted(
            r["doc_id"]
            for r in idx.filter_novel(df, "doc_id", "text", b).collect()
        )
        assert novel == want_by_batch[b], f"batch {b}"
        if b % 6 == 0:
            redo = sorted(
                r["doc_id"]
                for r in idx.filter_novel(df, "doc_id", "text", b).collect()
            )
            assert redo == novel, f"redelivery batch {b}"
