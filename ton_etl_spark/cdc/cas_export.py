"""Content-addressed export sink — the sha256-file-naming half of the
reference's datalake exporter (datalake/main.py:135-158: buffer, flush,
name the file `sha256(bytes)[:32]`, upload under `adding_date=.../`).

The reference hashes on a single exporter node because it IS a
single-node Kafka consumer. The Spark-first form distributes the whole
flush: the batch is hash-partitioned by the date partition column, each
task serializes its slice to parquet IN MEMORY (pyarrow), hashes the
buffer, and writes `<sha256[:32]>.parquet` directly into the partition
directory. No driver byte ever sees file content; work per task is
O(slice), file count is O(partitions-with-data x files_per_partition).

Content addressing makes the sink naturally idempotent: a redelivered
micro-batch reserializes byte-identical slices (row order is pinned by
an explicit sort inside each task; parquet bytes are deterministic for
a fixed pyarrow version, which is part of the sandbox contract) and
rewrites the SAME file names — a no-op for any object store with
last-write-wins PUT. The `_cas_manifest.json` batch guard makes replay
free as well (skip, don't rewrite), mirroring the lake tables'
batch_id guards; the manifest also gives consumers a commit point the
reference's raw S3 listing lacks.

`out_dir` must be a local or mounted filesystem shared by the driver
and every executor: tasks write the files, and the driver writes the
manifest beside them.

Avro format fidelity itself remains out of scope (no spark-avro jar in
the sandbox — documented in COVERAGE.md); parquet carries the same
export model with the same partitioning and the same naming contract.
"""

from __future__ import annotations

import hashlib
import io
import json
import os

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_cas_manifest.json")


def read_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return {"batches": {}}
    with open(p) as f:
        return json.load(f)


def cas_export(
    df: DataFrame,
    out_dir: str,
    partition_col: str,
    batch_id: int | None = None,
    max_rows_per_file: int = 1_000_000,
) -> list[dict]:
    """Write `df` as content-addressed parquet files under
    `out_dir/<partition_col>=<v>/<sha256[:32]>.parquet`.

    Returns the file records `[{partition, sha, rows}, ...]` (also
    appended to `_cas_manifest.json` when `batch_id` is given; a
    batch_id already recorded there is skipped entirely and its recorded
    files are returned — exactly-once under redelivery. The skip keys on
    exact membership, not a high-water mark, so a gap or a fresh
    checkpoint's lower ids still export).

    Plan shape: one groupBy-exchange on the partition column with
    applyInPandas (NOT mapInPandas: Arrow's record-batch splitting
    would chop a partition's rows into arbitrary-sized pieces and the
    file boundaries would stop being deterministic — applyInPandas
    hands each group to exactly one task, whole). Oversized groups
    split every `max_rows_per_file` rows AFTER the in-task sort, so
    the split points are deterministic too. A date partition must fit
    one task's memory — the same constraint the reference's exporter
    buffer has (datalake/main.py:139), except here per-date, and the
    row-chunked writes keep the serialized buffer bounded."""
    if batch_id is not None:
        done = read_manifest(out_dir)["batches"].get(str(batch_id))
        if done is not None:
            return done

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns
    # one schema for every slice: a nullable column that is all null in
    # one slice would otherwise be written with arrow type `null`
    arrow_schema = to_arrow_schema(df.schema)
    sort_cols = [c for c in cols if c != partition_col]

    def write_group(g: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if len(g) == 0:
            return pd.DataFrame({"partition": [], "sha": [], "rows": []})
        part = g[partition_col].iloc[0]
        # deterministic file bytes: stable intra-file order and stable
        # chunking regardless of upstream task/batch order
        g = g.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        pdir = os.path.join(out_dir, f"{partition_col}={part}")
        os.makedirs(pdir, exist_ok=True)
        out = []
        for lo in range(0, len(g), max_rows_per_file):
            chunk = g.iloc[lo:lo + max_rows_per_file]
            buf = io.BytesIO()
            pq.write_table(
                pa.Table.from_pandas(
                    chunk, schema=arrow_schema, preserve_index=False
                ),
                buf, compression="snappy",
            )
            data = buf.getvalue()
            sha = hashlib.sha256(data).hexdigest()[:32]
            final = os.path.join(pdir, f"{sha}.parquet")
            tmp = final + f".{os.getpid()}.inprogress"
            # atomic publish; rewriting an existing name is a no-op by
            # construction (same sha => same bytes)
            if not os.path.exists(final):
                with open(tmp, "wb") as f:
                    f.write(data)
                os.replace(tmp, final)
            out.append((str(part), sha, len(chunk)))
        return pd.DataFrame(out, columns=["partition", "sha", "rows"])

    # one task per output partition -> deterministic slices; the
    # groupBy key is the partition column so this is the same exchange
    # a partitionBy parquet sink would need anyway
    recs_df = df.groupBy(partition_col).applyInPandas(
        write_group, schema="partition string, sha string, rows long"
    )
    recs = [
        {"partition": r["partition"], "sha": r["sha"], "rows": r["rows"]}
        for r in recs_df.collect()
    ]
    recs.sort(key=lambda r: (r["partition"], r["sha"]))
    if batch_id is not None:
        man = read_manifest(out_dir)
        man["batches"][str(batch_id)] = recs
        tmp = _manifest_path(out_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, _manifest_path(out_dir))
    return recs
