"""F7: runtime-learned blacklist.

The reference's NFT parser LEARNS which code hashes are not NFTs (the
emulator exits 11/32) and stops spending emulator time on them
(nfts_parser.py:29,35-38,133-138). The analogue here: repos whose
upsert payloads are ALWAYS structurally malformed ("bot repos" — e.g. a
mirroring bot pushing garbage) are detected at runtime and their
malformed events are excluded before the expensive Arrow decode.

Parity is guaranteed BY CONSTRUCTION, not by promotion caution: the
exclusion filter drops only rows that are (a) upserts of an active
repo AND (b) structurally malformed (unparseable payload JSON) — rows
the parser would null-and-drop anyway. A well-formed upsert of a
blacklisted repo always survives, so even a wrong promotion can never
lose data; the blacklist is purely a decode-work/churn optimization.
(Excluding whole repos instead could permanently drop a healthy
repo's data after an unlucky evidence streak.)

Promotion bookkeeping (still conservative, now replay-proof):

  * a repo becomes SUSPECT when a batch contains malformed upserts for
    it; evidence is counted at most once per DISTINCT batch_id, and
    never for replayed epochs or pending re-flushes (batch_id None);
  * a well-formed upsert from a suspect or active repo exempts it
    permanently (active repos keep contributing evidence because the
    exclusion no longer hides their well-formed rows);
  * a suspect is promoted only after `min_batches` distinct batches.

Evidence OUTPUT is capped (4096 repos per side per batch, via a slice
of the final collect_set); the aggregation buffer itself holds every
distinct offending repo of the batch, i.e. it is bounded by the
micro-batch's distinct-repo count (≤ batch rows — tens of MB at
1M-row batches), not by the cap. When the cap binds, the batch reports
it (`bl_bad_capped` in the result metrics — the "no silent caps" rule)
and the direction is safe: slower learning, never wrong exclusion.

The per-batch evidence rides the pipeline's existing control-plane
aggregation, costing zero extra jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


class LearnedBlacklist:
    def __init__(self, min_batches: int = 3, max_active: int = 100_000):
        self.min_batches = min_batches
        self.max_active = max_active
        self._exempt: set[str] = set()
        # repo -> (n_distinct_batches, last_counted_batch_id)
        self._suspect_batches: dict[str, tuple[int, int]] = {}
        self.active: set[str] = set()
        self.skipped_events = 0
        self.cap_hits = 0

    def suspects(self) -> list[str]:
        return sorted(self._suspect_batches)

    def watched(self) -> list[str]:
        """Repos whose well-formed upserts are evidence: suspects (to
        clear them) and active (to un-promote a wrong call)."""
        return sorted(set(self._suspect_batches) | self.active)

    def exclusion_expr(self, malformed: Column) -> Column | None:
        """Filter to EXCLUDE known-malformed rows (None when inactive):
        upserts of active repos whose payload fails the structural test.
        `malformed` is the caller's cheap structural predicate (a
        from_json field probe — NOT the Arrow decode being saved).
        The active set is small; swap the isin literal for a broadcast
        join past ~10^4 entries."""
        if not self.active:
            return None
        # coalesce: isin/malformed can be NULL (e.g. NULL-repo rows),
        # and NULL propagates through ~(...) into "filtered out" under
        # SQL tri-valued logic — rows the exclusion has no verdict on
        # must be explicitly RETAINED (downstream parsers own them),
        # not dropped as a side effect.
        return F.coalesce(
            ~(
                (F.col("event_type") == "file_upsert")
                & F.col("repo").isin(sorted(self.active))
                & malformed
            ),
            F.lit(True),
        )

    def observe(
        self,
        bad_repos: list[str],
        ok_repos: list[str],
        batch_id: int | None,
        bad_capped: bool = False,
    ) -> None:
        """Feed one batch's evidence (from the control aggregation):
        repos with malformed upserts, and watched repos that produced a
        well-formed upsert. `batch_id=None` (pending re-flush / ungated
        replay) applies exemptions but never counts bad evidence."""
        for r in ok_repos or []:
            self._exempt.add(r)
            self._suspect_batches.pop(r, None)
            self.active.discard(r)
        if bad_capped:
            self.cap_hits += 1
        if batch_id is None:
            return
        for r in bad_repos or []:
            if r in self._exempt or r in self.active:
                continue
            n, last = self._suspect_batches.get(r, (0, -1))
            if batch_id <= last:
                continue  # same or replayed batch: one count per batch_id
            n += 1
            if n >= self.min_batches and len(self.active) < self.max_active:
                self.active.add(r)
                self._suspect_batches.pop(r, None)
            else:
                self._suspect_batches[r] = (n, batch_id)
