"""Seeded inputs for each workload, generated before the clock starts.

Inputs are a pure function of (workload shape, seed) and are cached
under `perfbench/.cache/<key>/`, so a repeated seed costs nothing. Each
micro-batch is one parquet file of the change-event log; per-batch
counts (events, upserts, distinct upsert keys) are taken from those
files, not from the engine.

An *event* is one row of a measured log file: data events, fact events,
DDL rows, duplicates and malformed rows alike.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow.parquet as pq

from ton_etl_spark.datagen import (
    Event,
    GenParams,
    encode_payload,
    generate_events,
    write_event_log,
)

CACHE_VERSION = 7


@dataclass(frozen=True)
class Shape:
    """One workload's input shape. `cores` and the driver loop are the
    workload; everything here is data."""
    kind: str                 # 'bulk' | 'trickle'
    n_events: int             # measured log size (bulk: one replay)
    n_files: int              # micro-batches in the measured log
    n_repos: int
    paths_per_repo: int
    hot_share: float
    zipf_a: float = 1.3
    p_facts: float = 0.0
    ddl: bool = True
    warmup_events: int = 0    # bulk: separate warm-up log (one batch)
    preload_keys: int = 0     # trickle: snapshot rows applied in set-up
    # trickle: exactly this many renames of preloaded keys per batch, in
    # place of the generator's random ones (0-3 a batch, which made
    # batch cost bimodal)
    renames_per_batch: int = 0


def _params(shape: Shape, seed: int, n_events: int, n_files: int) -> GenParams:
    p = GenParams(
        n_events=n_events, n_repos=shape.n_repos,
        paths_per_repo=shape.paths_per_repo, seed=seed, n_files=n_files,
        hot_share=shape.hot_share, zipf_a=shape.zipf_a, p_facts=shape.p_facts,
    )
    if not shape.ddl:
        p.ddl_script = []
    if shape.renames_per_batch:
        p.p_rename = 0.0
    return p


def cache_key(shape: Shape, seed: int) -> str:
    blob = json.dumps(
        {"v": CACHE_VERSION, "shape": asdict(shape), "seed": seed}, sort_keys=True
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _snapshot(shape: Shape) -> list[Event]:
    """`preload_keys` live rows as Debezium snapshot reads (op='r') over
    the same key space the tail draws from, at LSNs 1..preload_keys."""
    repos = [f"org{i % 7}/repo{i}" for i in range(shape.n_repos)]
    out = []
    for i in range(shape.preload_keys):
        repo = repos[(i // shape.paths_per_repo) % shape.n_repos]
        path = f"src/m{i % shape.paths_per_repo}.py"
        lsn = i + 1
        out.append(Event(
            lsn, "r", "file_upsert", repo, path,
            encode_payload(repo, path, lsn, False, False, False),
            arrival=float(lsn), ts_ms=lsn,
        ))
    return out


def _with_renames(shape: Shape, snap: list[Event], tail: list[Event]
                  ) -> list[list[Event]]:
    """Split the tail into its micro-batches and append
    `renames_per_batch` renames to each, of preloaded keys the tail never
    touches (so arrival order cannot matter), at LSNs past the tail."""
    touched = {(e.repo, e.path) for e in tail}
    idle = [(e.repo, e.path) for e in snap
            if e.event_type == "file_upsert" and (e.repo, e.path) not in touched]
    lsn = max(e.lsn for e in tail)
    batches = []
    for i, idx in enumerate(np.array_split(np.arange(len(tail)), shape.n_files)):
        batch = [tail[j] for j in idx]
        for k in range(shape.renames_per_batch):
            repo, path = idle.pop(0)
            lsn += 1
            batch.append(Event(
                lsn, "u", "file_rename", repo, path,
                json.dumps({"new_path": f"{path}.tail{i}_{k}"}),
                arrival=float(lsn), ts_ms=lsn,
            ))
        batches.append(batch)
    return batches


def _write_batches(batches: list[list[Event]], out_dir: str) -> None:
    """One parquet file per micro-batch, named in batch order."""
    os.makedirs(out_dir)
    for i, batch in enumerate(batches):
        part = os.path.join(out_dir, f"_part{i}")
        (src,) = write_event_log(batch, part, 1)
        os.replace(src, os.path.join(out_dir, f"chunk-{i:05d}.parquet"))
        os.rmdir(part)


def _file_counts(path: str) -> dict:
    t = pq.read_table(path, columns=["event_type", "repo", "path", "lsn", "payload"])
    et = t.column("event_type").to_pylist()
    repo = t.column("repo").to_pylist()
    p = t.column("path").to_pylist()
    payload = t.column("payload").to_pylist()
    lsn = t.column("lsn").to_pylist()
    ups = [i for i, e in enumerate(et) if e == "file_upsert"]
    good = [i for i in ups if payload[i] and '"content_z"' in payload[i]]
    data = [i for i, e in enumerate(et)
            if e in ("file_upsert", "file_delete", "file_rename")]
    return {
        "file": os.path.basename(path),
        "events": len(et),
        "upserts": len(ups),
        "distinct_upsert_keys": len({(repo[i], p[i]) for i in good}),
        "facts": sum(1 for e in et if e.endswith("_event")),
        "data_lsn_min": min((lsn[i] for i in data), default=None),
    }


def prepare(root: str, shape: Shape, seed: int) -> dict:
    """Generate (or reuse) the inputs; returns the input manifest:
    {'dir', 'events_dir', 'batches': [counts per file], ...}."""
    d = os.path.join(root, cache_key(shape, seed))
    meta_path = os.path.join(d, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    events = generate_events(_params(shape, seed, shape.n_events, shape.n_files))
    meta = {"seed": seed, "shape": asdict(shape)}
    if shape.preload_keys:
        snap = _snapshot(shape)
        for e in events:  # the tail follows the snapshot in LSN order
            e.lsn += len(snap)
        write_event_log(snap, os.path.join(tmp, "snapshot"), 1)
    if shape.renames_per_batch:
        _write_batches(_with_renames(shape, snap, events),
                       os.path.join(tmp, "events"))
    else:
        write_event_log(events, os.path.join(tmp, "events"), shape.n_files)
    if shape.warmup_events:
        warm = generate_events(
            _params(shape, seed + 1_000_003, shape.warmup_events, 1)
        )
        write_event_log(warm, os.path.join(tmp, "warmup"), 1)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    meta["dir"] = d
    meta["events_dir"] = os.path.join(d, "events")
    meta["batches"] = [
        _file_counts(p)
        for p in sorted(glob.glob(os.path.join(d, "events", "*.parquet")))
    ]
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def batch_files(meta: dict, sub: str = "events") -> list[str]:
    return sorted(glob.glob(os.path.join(meta["dir"], sub, "*.parquet")))


def read_events(files: list[str]) -> list[dict]:
    out: list[dict] = []
    for p in files:
        out.extend(pq.read_table(p).to_pylist())
    return out
