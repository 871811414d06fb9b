"""Cursor-committing change-feed consumer — the downstream-datamart
pattern over `LakeTable.read_version_changes`.

Reference parity: the reference's dwh/datamart jobs re-consume the
exporter's Kafka topics with consumer-group offsets and land increments
into warehouse tables (re-doubt/ton-etl README.md datalake/dwh flow,
consumer offset commits in parser/main.py:85-90). Here the lake itself
is the log: the consumer keeps a durable VERSION cursor (the commit
sequence, i.e. the offset — not logical time, so arbitrarily late /
out-of-order events can never be skipped), reads exactly the files the
new commits wrote, hands them to a processing function, and advances
the cursor only after the function succeeds — at-least-once delivery,
the reference's consumer contract. Downstream exactly-once comes from
pairing it with an idempotent sink (an LSN-guarded `merge_into`), the
same layering as the reference's at-least-once Kafka consume + `ON
CONFLICT` upsert (db.py:197-214); that sink also absorbs the carried
rows redelivered by bucket-rewrite commits. Only rewrite commits carry
rows: a delta commit's files hold exactly the batch's winners.

Scale shape: a poll reads only the files the polled commits wrote (in
steady state, the narrow commits' delta files), zero driver loops, no
extra jobs on idle polls. Many independent consumers (one cursor dir
each) can tail one table without coordination — commits are immutable
snapshots.
"""

from __future__ import annotations

import os
import uuid

from .table import LakeTable


class ChangeFeedConsumer:
    def __init__(self, table: LakeTable, cursor_dir: str, start_after: int = -1):
        self.table = table
        self.cursor_dir = cursor_dir
        self.start_after = start_after
        os.makedirs(cursor_dir, exist_ok=True)

    @property
    def _cursor_path(self) -> str:
        return os.path.join(self.cursor_dir, "_cursor")

    def cursor(self) -> int:
        """Last consumed table version (-1 = from the beginning)."""
        if not os.path.exists(self._cursor_path):
            return self.start_after
        with open(self._cursor_path) as f:
            return int(f.read().strip())

    def _commit_cursor(self, version: int) -> None:
        tmp = self._cursor_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._cursor_path)

    def poll(self, fn, include_deleted: bool = True,
             max_versions: int | None = None) -> dict:
        """Deliver all rows committed after the cursor to
        `fn(DataFrame)`, then advance the cursor. `fn` failure leaves
        the cursor untouched — the next poll redelivers
        (at-least-once). The read is pinned to the head version seen at
        poll start, so a concurrent commit mid-poll is never half-read;
        its rows arrive in the next poll.

        `max_versions` bounds how many commits one poll consumes.
        Consumers that key per-delivery state on the version (e.g. the
        curation feed's DedupIndex batch ids) use max_versions=1 so a
        delivery's identity is stable across crash re-polls — a
        re-poll after a mid-delivery crash then covers exactly the
        same commit even if new commits landed meanwhile."""
        head = self.table.current_version()
        since = self.cursor()
        if max_versions is not None:
            head = min(head, since + max_versions)
        if head <= since:
            return {"delivered": False, "cursor": since, "version": head}
        feed = self.table.read_version_changes(
            since, version=head, include_deleted=include_deleted
        )
        fn(feed)
        self._commit_cursor(head)
        return {"delivered": True, "cursor": head, "version": head}
