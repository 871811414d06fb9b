"""Correctness gate: the lake's final state against the sequential oracle.

The main table is compared on (repo, path, lsn, sha256(content)) with
`oracle.reduce_events` over exactly the events the run applied. The
expected state is cached beside the inputs, per applied prefix. Fact
events must land in their silver table exactly once (trades and
comments are keyed by event LSN; metadata is last-writer-wins per
repo).
"""

from __future__ import annotations

import hashlib
import json
import os

from ton_etl_spark.oracle import reduce_events

from inputs import read_events


def expected_state(meta: dict, files: list[str], tag: str) -> dict[str, list]:
    """'repo\\0path' -> [lsn, sha256(content)] for the given log files."""
    path = os.path.join(meta["dir"], f"expected_{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    state, _ = reduce_events(read_events(files))
    out = {
        f"{r}\x00{p}": [
            row["lsn"],
            hashlib.sha256(row["content"].encode()).hexdigest()
            if row.get("content") is not None else None,
        ]
        for (r, p), row in state.items()
    }
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def lake_state(table) -> dict[str, list]:
    from pyspark.sql import functions as F

    rows = table.read().select(
        "repo", "path", "lsn", F.sha2("content", 256).alias("h")
    ).collect()
    return {f"{r['repo']}\x00{r['path']}": [r["lsn"], r["h"]] for r in rows}


def diff(expected: dict, actual: dict, limit: int = 5) -> list[str]:
    """Human-readable mismatches (at most `limit`); empty when equal."""
    out = []
    for k in sorted(set(expected) | set(actual)):
        if expected.get(k) != actual.get(k):
            out.append(f"{k!r}: expected {expected.get(k)} got {actual.get(k)}")
            if len(out) >= limit:
                break
    return out


def silver_mismatches(fanout, events: list[dict]) -> list[str]:
    """Each fact event (deduplicated by LSN) exactly once in its table."""
    facts: dict[int, dict] = {}
    for e in events:
        if e["event_type"].endswith("_event"):
            facts.setdefault(e["lsn"], e)
    out = []
    for table, etype, key in (
        ("trades", "trade_event", "trade_id"),
        ("comments", "comment_event", "comment_id"),
    ):
        want = sorted(l for l, e in facts.items() if e["event_type"] == etype)
        got = sorted(
            r[0] for r in fanout.tables[table].read().select(key).collect()
        )
        if got != want:
            out.append(f"{table}: {len(got)} rows for {len(want)} events")
    latest: dict[str, int] = {}
    for l, e in facts.items():
        if e["event_type"] == "metadata_event":
            latest[e["repo"]] = max(latest.get(e["repo"], l), l)
    got_md = {
        r["repo"]: r["lsn"]
        for r in fanout.tables["metadata"].read().select("repo", "lsn").collect()
    }
    if got_md != latest:
        out.append(f"metadata: {len(got_md)} repos, expected {len(latest)}")
    return out
