"""Incremental NEAR-dup index: MinHash-LSH dedup of a corpus delta
against the full historical corpus, exactly-once.

`DedupIndex` (dedup_index.py) answers "has this exact content been
seen"; this module answers the fuzzy version — "is this document a
near-duplicate (k-gram Jaccard >= t) of anything ever kept" — without
rescanning the corpus per micro-batch. It is the incremental twin of
`operators.dedup.minhash_near_dup_pairs`: the same signatures, the
same banding, the same exact-Jaccard verification contract, but the
band side of the join is a persistent LakeTable instead of the batch
itself.

Reference analogue: none (the reference has no content dedup at all);
this is the operation a 100 TB training-data pipeline actually runs —
new crawl snapshots arrive as deltas and must be near-deduplicated
against everything already kept.

Index layout (two LakeTables under one root, both bucketed and
manifest-committed):

  * bands/  key (band, band_hash, doc_id) — one row per LSH band of
    every KEPT document. A delta's band rows join this table on
    (band, band_hash) to produce candidate (new, old) pairs carrying
    ids only.
  * docs/   key (doc_id) — per-document provenance: first_batch, kept
    flag, and the minhash signature (array<bigint>). This table is the
    replay authority and the signature source for signature-estimated
    verification.

Decision rule (deterministic at any parallelism, mirrors
operators.similarity.semantic_dedup's non-recursive lower-id rule):

  * within a batch: drop x iff some same-batch y with y.id < x.id
    verifies as a near-dup of x — regardless of whether y itself is
    dropped (non-recursive, so the rule is order-free);
  * across batches: drop x iff x verifies against ANY historically
    KEPT document (the bands table only ever holds kept docs, so every
    cross candidate is vs a kept doc). Note a new doc near-duplicate
    of a previously DROPPED doc but of no kept doc stays novel.

Verification modes:

  * exact (default, requires `corpus_text`): re-attach k-gram shingle
    sets by id-equi-join — new side from the batch, old side from the
    caller-supplied corpus text lookup (normally the main lake table,
    so the fetch is a bucket-aligned point-lookup join) — and test
    round(|A∩B|/|A∪B|, 6) >= threshold, byte-identical to
    minhash_near_dup_pairs and therefore SQL-oracle checkable.
  * signature (corpus_text=None): estimated Jaccard = fraction of
    equal minhash components between the new signature and the stored
    one — zero text re-fetch, the pure-index scale path. Estimates are
    deterministic (xxhash64 is seeded) but engine-specific.

Exactly-once / replay: merges commit bands FIRST, docs LAST, each
guarded by batch_id; the docs table's manifest batch_id is the replay
authority. A redelivered committed batch recomputes its novel set from
docs provenance (first_batch == batch AND kept) — a naive recompute
against the updated index would drop everything. A crash BETWEEN the
two commits heals on redelivery: the normal path pins its bands read
to the last version whose batch_id precedes this batch, so the
partially-committed bands are invisible and the recomputation is
bit-identical; both merges' own guards then skip/apply as needed.

Doc ids are assumed unique across batches (they are lake keys); a
redelivered batch re-presents the SAME ids.
"""

from __future__ import annotations

import json

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F, types as T

open_ = open  # the classmethod below shadows the builtin

from ..operators.dedup import band_rows, minhash_signatures, shingles
from .merge import append_insert
from .table import LakeTable

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType(), False),
        T.StructField("band_hash", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("lsn", T.LongType(), True),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("first_batch", T.LongType(), True),
        T.StructField("kept", T.BooleanType(), True),
        T.StructField("signature", T.ArrayType(T.LongType()), True),
        T.StructField("lsn", T.LongType(), True),
    ]
)


class NearDupIndex:
    """A MinHash-LSH near-dup index over two LakeTables.

    `create(spark, root)` / `open(spark, root)`, then per micro-batch:
    `novel = idx.filter_novel(batch_df, id_col, text_col, batch_id,
    corpus_text=lake_docs)` — returns the batch rows that are NOT
    near-duplicates of anything kept before them, and commits the
    batch to the index in the same call, exactly-once by batch_id.
    """

    def __init__(self, bands_table: LakeTable, docs_table: LakeTable,
                 n_perm: int = 16, bands: int = 16, k: int = 1):
        self.bands_table = bands_table
        self.docs_table = docs_table
        self.n_perm = n_perm
        self.bands = bands
        self.k = k
        # previous batch's persisted novel-id set (see filter_novel);
        # retired at the next call so at most one batch's ids are cached
        self._novel_cache: DataFrame | None = None

    @classmethod
    def create(cls, spark, root: str, bucket_count: int = 16,
               n_perm: int = 16, bands: int = 16, k: int = 1,
               ) -> "NearDupIndex":
        idx = cls(
            LakeTable.create(
                spark, f"{root}/bands", BANDS_SCHEMA,
                key_fields=["band", "band_hash", "doc_id"],
                version_field="lsn", bucket_count=bucket_count,
            ),
            LakeTable.create(
                spark, f"{root}/docs", DOCS_SCHEMA,
                key_fields=["doc_id"],
                version_field="lsn", bucket_count=bucket_count,
            ),
            n_perm=n_perm, bands=bands, k=k,
        )
        # LSH parameters are part of the index's identity: signatures
        # written under one (n_perm, bands, k) are meaningless under
        # another, so they are pinned at create and re-read at open
        with open_(f"{root}/_lsh_params.json", "w") as f:
            json.dump({"n_perm": n_perm, "bands": bands, "k": k}, f)
        return idx

    @classmethod
    def open(cls, spark, root: str) -> "NearDupIndex":
        with open_(f"{root}/_lsh_params.json") as f:
            p = json.load(f)
        return cls(
            LakeTable(spark, f"{root}/bands"),
            LakeTable(spark, f"{root}/docs"),
            n_perm=p["n_perm"], bands=p["bands"], k=p["k"],
        )

    def _bands_version_before(self, batch_id: int) -> int:
        """Latest bands-table version committed by a batch < batch_id —
        the pin that makes crash-between-commits redelivery recompute
        on exactly the pre-batch index state."""
        m = self.bands_table.manifest()
        v = m["version"]
        while v > 0 and self.bands_table.manifest(v)["batch_id"] >= batch_id:
            v = self.bands_table.manifest(v)["parent"]
        return v

    def filter_novel(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        batch_id: int,
        corpus_text: DataFrame | None = None,
        threshold: float = 0.8,
    ) -> DataFrame:
        """Rows of `df` that are near-novel (see module docstring for
        the exact decision rule), committing the batch to the index.

        `corpus_text` — (id_col, text_col) lookup for previously
        ingested documents (normally the main corpus lake table);
        enables exact-Jaccard verification. None = signature-estimated
        verification from the index alone.

        Scale shape: one explode+groupBy shuffle for signatures, one
        (band, band_hash) join against the bands table, id-equi-joins
        to verify (candidates carry ids only — text/shingles never
        enter the LSH shuffle), two bucket-aligned merges. The corpus
        is never rescanned.
        """
        if batch_id <= self.docs_table.manifest()["batch_id"]:
            # replay of a fully committed batch: novel set from
            # provenance, exactly the original rows
            firsts = self.docs_table.read().filter(
                (F.col("first_batch") == batch_id) & F.col("kept")
            )
            return df.join(
                firsts.select(F.col("doc_id").alias(id_col)),
                on=id_col, how="left_semi",
            )

        # No defensive dropDuplicates: ids are unique by module contract
        # (they are lake keys). For contract-violating duplicate-id
        # input the signature aggregation below collapses copies into
        # one union-of-shingles signature and ALL copies are kept or
        # dropped together — the former dropDuplicates picked one copy
        # arbitrarily, which is no better defined, and its shuffle
        # moved the full batch text once more per call.
        # The signature table feeds three consumers (band rows for the
        # candidate joins, band rows again for the kept-bands merge,
        # and the docs-table signature column); both merges and the
        # returned `novel` run as separate actions, so without a
        # persist the whole shingle+minhash lineage re-executes per
        # consumer. The cached set is the DELTA's (id, 16 longs) —
        # batch-sized by construction, spills to disk if not.
        # Exact verification also needs the batch's shingle sets —
        # compute them ONCE (persisted) and feed the same frame to the
        # signature aggregation, instead of tokenizing the batch twice.
        sh_batch = None
        if corpus_text is not None:
            sh_batch = shingles(df, id_col, text_col, self.k).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        sig = minhash_signatures(
            df, id_col, text_col, self.n_perm, self.k, shingles_df=sh_batch
        ).persist(StorageLevel.MEMORY_AND_DISK)
        new_bands = band_rows(sig, id_col, self.n_perm, self.bands)

        # ---- candidates (ids only), ONE (band, band_hash) join ----
        # The historical index rows and the batch's own band rows share
        # the join's build side, so within-batch pairs need no second
        # shuffle over the same keys.
        # Doc ids are unique across batches, so a _same_batch flag is
        # enough to apply the within-batch lower-id rule post-join.
        pin = self._bands_version_before(batch_id)
        idx_bands = self.bands_table.read(version=pin).select(
            "band", "band_hash",
            F.col("doc_id").alias("_other"),
            F.lit(False).alias("_same_batch"),
        )
        nb = new_bands.select(
            F.col(id_col).alias("_new_id"), "band", "band_hash"
        )
        rhs = idx_bands.unionByName(
            nb.select(
                "band", "band_hash",
                F.col("_new_id").alias("_other"),
                F.lit(True).alias("_same_batch"),
            )
        )
        cand = (
            nb.join(rhs, on=["band", "band_hash"])
            # within-batch: drop the HIGHER id when a lower same-batch
            # near-dup exists; cross: any kept historical doc counts
            .filter(~F.col("_same_batch") | (F.col("_other") < F.col("_new_id")))
            .select("_new_id", "_other", "_same_batch")
            .distinct()  # a pair may match in several bands
        )

        # ---- verification: ONE join chain for both pair kinds ----
        # The right side unions batch shingles/signatures (same-batch
        # pairs) with historical ones (cross pairs) — disjoint id
        # spaces, identical predicate, so one verify plan replaces the
        # former cross/within twin pipelines.
        if corpus_text is not None:
            shn = sh_batch.select(
                F.col(id_col).alias("_sid"), F.col("shingles").alias("_sh")
            )
            # no .distinct(): the left_semi join below dedups inherently
            old_ids = (
                cand.filter(~F.col("_same_batch"))
                .select(F.col("_other").alias(id_col))
            )
            sh_old = shingles(
                corpus_text.join(old_ids, on=id_col, how="left_semi"),
                id_col, text_col, self.k,
            ).select(
                F.col(id_col).alias("_sid"), F.col("shingles").alias("_sh")
            )
            left, right = shn, shn.unionByName(sh_old)
            lcol, rcol, passes = "_sh", "_sh", F.round(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb")),
                6,
            ) >= F.lit(threshold)
        else:
            # signature-estimated Jaccard: fraction of equal minhash
            # components — the pure-index path, zero text re-fetch
            sign = sig.select(
                F.col(id_col).alias("_sid"), F.col("signature").alias("_sg")
            )
            old_sigs = self.docs_table.read(
                version=self.docs_table.manifest()["version"]
            ).filter(F.col("kept")).select(
                F.col("doc_id").alias("_sid"), F.col("signature").alias("_sg")
            )
            left, right = sign, sign.unionByName(old_sigs)
            lcol, rcol = "_sg", "_sg"
            passes = (
                F.aggregate(
                    F.zip_with(
                        "_sa", "_sb", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0), lambda acc, v: acc + v,
                )
                / F.lit(self.n_perm)
            ) >= F.lit(threshold)

        dropped = (
            cand.join(
                left.select(F.col("_sid").alias("_new_id"),
                            F.col(lcol).alias("_sa")), "_new_id")
            .join(
                right.select(F.col("_sid").alias("_other"),
                             F.col(rcol).alias("_sb")), "_other")
            .filter(passes)
            .select(F.col("_new_id").alias("_did"))
            .distinct()
        )
        # The novel-id set also feeds three consumers (both merges and
        # the returned rows) — persist the ids ONLY (never the text),
        # retire the previous batch's cache so at most one delta's ids
        # are ever held.
        novel_ids = (
            df.select(F.col(id_col).alias("doc_id"))
            .join(dropped, F.col("doc_id") == dropped["_did"], "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if self._novel_cache is not None:
            self._novel_cache.unpersist()
        self._novel_cache = novel_ids
        novel = df.join(
            novel_ids, df[id_col] == novel_ids["doc_id"], "left_semi"
        )

        # ---- commit: bands first, docs last (replay authority) ----
        kept_bands = (
            new_bands.select(F.col(id_col).alias("doc_id"), "band", "band_hash")
            .join(novel_ids, on="doc_id", how="left_semi")
            .select(
                "band", "band_hash", "doc_id",
                F.lit(batch_id).cast("long").alias("lsn"),
                F.lit("c").alias("op"),
            )
        )
        doc_updates = (
            sig.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.col("signature"),
            )
            .join(
                novel_ids.withColumn("_kept", F.lit(True)),
                on="doc_id", how="left",
            )
            .select(
                "doc_id",
                F.lit(batch_id).cast("long").alias("first_batch"),
                F.coalesce(F.col("_kept"), F.lit(False)).alias("kept"),
                "signature",
                F.lit(batch_id).cast("long").alias("lsn"),
                F.lit("c").alias("op"),
            )
        )
        # Fast-append instead of full merge: both
        # index tables only ever receive strictly-new keys (doc ids are
        # unique across batches — module contract), so the Iceberg-style
        # append path applies: one write job per table, no stats
        # aggregation, no target-rewrite shuffle. Replay stays
        # exactly-once through the same batch_id guard, and the
        # crash-between-commits healing is unchanged (the bands read is
        # version-pinned, a redelivered committed append is skipped).
        append_insert(self.bands_table, kept_bands, batch_id=batch_id)
        append_insert(self.docs_table, doc_updates, batch_id=batch_id)
        # both appends have executed; nothing downstream reads these
        sig.unpersist()
        if sh_batch is not None:
            sh_batch.unpersist()
        return novel
