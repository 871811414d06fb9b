"""A minimal lakehouse table format: bucketed parquet with copy-on-write
bucket rewrites and merge-on-read delta files, atomic manifest commits,
field-id schema evolution, and time travel.

Why hand-rolled: the engine targets Iceberg `MERGE INTO` semantics
(BASELINE.json north_rule) but must run self-contained; this module
implements the same contract on plain parquet:

  * data is hash-bucketed on the key columns (`bucket =
    pmod(hash(*keys), bucket_count)`, Spark's Murmur3 `hash`) so a
    MERGE touches only the buckets containing changed keys — at 100 TB
    / 64k buckets a CDC micro-batch rewrites a tiny fraction of the
    table;
  * a data commit either rewrites whole buckets (copy-on-write) or, for
    a batch that is narrow next to the buckets it touches, appends one
    or a few unbucketed DELTA files holding only the batch's winning
    rows (tombstones included). The manifest lists, per delta file, the
    buckets it still covers. Reads of covered buckets union base and
    delta rows and keep each key's max-version row; buckets no delta
    covers keep the plain scan. A bucket rewrite folds the deltas it
    covers and drops that bucket from every delta file's list; the
    reference's lake is merge-on-read the same way (append-only files,
    folded later by a rank-1 snapshot job,
    datalake/metadata_snapshot.py:93-105), as are Iceberg v2 row-level
    deletes;
  * every commit writes new files plus a JSON manifest and atomically
    swaps a `_current` pointer (os.replace) — readers always see a
    consistent snapshot; old versions remain readable (time travel).
    All data commits (merge, append, rewrite, rebucket) go through one
    method, `_commit_data`, so the manifest format lives in this module
    alone;
  * commits record the streaming `batch_id`, so a replayed foreachBatch
    epoch after checkpoint recovery is detected and skipped — this plus
    the LSN-guarded merge gives exactly-once sink semantics (the
    reference gets the same effect from at-least-once Kafka commits +
    idempotent `ON CONFLICT` upserts, reference parser/main.py:85-90,
    db.py:197-269);
  * columns are stored under physical names `f<id>` keyed by a stable
    field id, so renames are pure metadata and adds/widens never rewrite
    data (Iceberg-style; reference evolves schema via `ALTER TABLE ..
    ADD COLUMN IF NOT EXISTS`, database/createdb.sql:148,210-218);
  * each commit carries per-bucket lineage (files, row counts, LSN
    range) and a metrics row (north_rule: per-partition commit
    manifests + lineage + metrics alongside each microbatch);
  * each commit records per-file version-field min/max (`file_stats`,
    from the footers it already reads for row counts), powering two
    incremental reads: `read_changes(since_lsn)` — LSN-watermark feed
    with whole-file skipping — and `read_version_changes(since_version)`
    — the complete consumer-offset feed (see `lake/consumer.py`).

Layout:
    <root>/_versions/v<N>.json            commit manifests
    <root>/_current                       text file holding latest version number
    <root>/_metrics/*.json                one metrics row per commit
    <root>/data/v<N>/<hex>/_bucket=<i>/   bucket files written by commit N
    <root>/data/v<N>/<hex>/_delta/        delta files written by commit N

`<hex>` is fresh per write attempt: a replay after a crash between the
file write and the manifest swap writes beside the unreferenced files
of the dead attempt (vacuum removes them) instead of failing on them.

The table root must be a local or mounted filesystem shared by the
driver and every executor: executors write the data files, and the
driver lists them (`glob`), reads their footers and swaps the manifest
with `os.replace`.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..schemas import spark_type_from_string, type_to_string

_WIDENINGS = {
    # allowed in-place type widenings (read-side upcast, no rewrite)
    "int": {"bigint", "double", "decimal(38,0)"},
    "smallint": {"int", "bigint", "double"},
    "float": {"double"},
    "bigint": {"decimal(38,0)"},
}


class LakeTable:
    """A bucketed table with copy-on-write and delta commits rooted at
    `root`, a path on a filesystem shared by driver and executors (see
    the module docstring)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- creation / loading -------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_fields: list[str],
        version_field: str = "lsn",
        bucket_count: int = 32,
        overwrite: bool = False,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(root, "_current")):
            if not overwrite:
                raise FileExistsError(f"lake table already exists at {root}")
            shutil.rmtree(root)
        os.makedirs(os.path.join(root, "_versions"), exist_ok=True)
        os.makedirs(os.path.join(root, "_metrics"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": type_to_string(f.dataType)}
            for i, f in enumerate(schema.fields)
        ]
        # system column: tombstone flag. Deletes keep a row (key + lsn +
        # _deleted=true) instead of physically removing it, so the LSN
        # guard also protects against late/duplicate pre-delete events
        # resurrecting a dead key (the reference sidesteps this by
        # dropping deletes entirely, parser/main.py:70-71 — the north
        # rule requires real delete handling).
        fields.append(
            {"id": len(fields) + 1, "name": "_deleted", "type": "boolean",
             "system": True}
        )
        manifest = {
            "version": 0,
            "parent": None,
            "batch_id": -1,
            "fields": fields,
            "next_field_id": len(fields) + 1,
            "key_fields": key_fields,
            "version_field": version_field,
            "bucket_count": bucket_count,
            "buckets": {},
            "bucket_rows": {},
            "deltas": {},
            "file_stats": {},
            "lineage": {},
        }
        t = LakeTable(spark, root)
        t._write_manifest(manifest)
        return t

    # -- manifest machinery -------------------------------------------------

    def current_version(self) -> int:
        with open(os.path.join(self.root, "_current")) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.root, "_versions", f"v{v}.json")) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        path = os.path.join(self.root, "_versions", f"v{v}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)
        # atomic pointer swap — the commit point
        cur, ctmp = os.path.join(self.root, "_current"), os.path.join(
            self.root, f"_current.tmp.{uuid.uuid4().hex}"
        )
        with open(ctmp, "w") as f:
            f.write(str(v))
        os.replace(ctmp, cur)

    def commit(self, manifest: dict, metrics: dict | None = None) -> None:
        """Optimistic-concurrency commit: parent must still be current."""
        if manifest["parent"] != self.current_version():
            raise RuntimeError(
                f"commit conflict: parent {manifest['parent']} != "
                f"current {self.current_version()}"
            )
        self._write_manifest(manifest)
        if metrics is not None:
            mpath = os.path.join(
                self.root, "_metrics", f"v{manifest['version']}.json"
            )
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(metrics, f)
            os.replace(tmp, mpath)

    # -- schema -------------------------------------------------------------

    def schema(
        self, version: int | None = None, include_system: bool = False
    ) -> T.StructType:
        return self._logical_schema(self.manifest(version), include_system)

    @staticmethod
    def _logical_schema(m: dict, include_system: bool) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f["name"], spark_type_from_string(f["type"]), True)
                for f in m["fields"]
                if include_system or not f.get("system")
            ]
        )

    def _phys_schema(self, m: dict) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f"f{f['id']}", spark_type_from_string(f["type"]), True)
                for f in m["fields"]
            ]
        )

    def key_fields(self) -> list[str]:
        return self.manifest()["key_fields"]

    def version_field(self) -> str:
        return self.manifest()["version_field"]

    # schema evolution: all three are metadata-only commits --------------

    def add_column(self, name: str, type_str: str, batch_id: int | None = None) -> None:
        m = self.manifest()
        if any(f["name"] == name for f in m["fields"]):
            return  # ADD COLUMN IF NOT EXISTS semantics (createdb.sql:210)
        new_field = {"id": m["next_field_id"], "name": name, "type": type_str}
        # keep system fields (tombstone) last in logical column order
        n_sys = sum(1 for f in m["fields"] if f.get("system"))
        m["fields"].insert(len(m["fields"]) - n_sys, new_field)
        m["next_field_id"] += 1
        self._bump(m, batch_id, ddl=f"add {name} {type_str}")

    def rename_column(self, old: str, new: str, batch_id: int | None = None) -> None:
        m = self.manifest()
        if not any(f["name"] == old for f in m["fields"]):
            return  # already renamed (replay idempotence)
        if any(f["name"] == new for f in m["fields"]):
            # target name taken (e.g. add 'language' then rename
            # lang->language): renaming would create two fields with one
            # logical name and silently corrupt name-keyed alignment.
            # No-op, matching ADD COLUMN IF NOT EXISTS idempotence.
            return
        for f in m["fields"]:
            if f["name"] == old:
                f["name"] = new
        self._bump(m, batch_id, ddl=f"rename {old} -> {new}")

    def widen_column(self, name: str, new_type: str, batch_id: int | None = None) -> None:
        m = self.manifest()
        for f in m["fields"]:
            if f["name"] == name:
                if f["type"] == new_type:
                    return
                if new_type not in _WIDENINGS.get(f["type"], set()):
                    raise ValueError(f"illegal widening {f['type']} -> {new_type}")
                f["type"] = new_type
        self._bump(m, batch_id, ddl=f"widen {name} -> {new_type}")

    def _bump(self, m: dict, batch_id: int | None, ddl: str) -> None:
        m["parent"], m["version"] = m["version"], m["version"] + 1
        if batch_id is not None:
            m["batch_id"] = batch_id
        m["lineage"] = {"ddl": ddl}
        self.commit(m)

    # -- reads ----------------------------------------------------------------

    def bucket_expr(
        self, m: dict | None = None, keys: list[Column] | None = None
    ) -> Column:
        """Bucket id of a row. Uses Spark's Murmur3 `hash` (the SAME
        function HashPartitioning uses, seed 42): with bucket_count a
        multiple of spark.sql.shuffle.partitions, every row of a bucket
        lands in one reducer of any groupBy/repartition on the key
        columns, so the bucketed write needs NO extra shuffle after the
        merge aggregation (pmod(h, P) == pmod(pmod(h, k*P), P)).
        `keys` gives the key values as other expressions of the same
        types (e.g. over the raw events a batch is parsed from)."""
        m = m or self.manifest()
        keys = keys or [F.col(k) for k in m["key_fields"]]
        return F.pmod(F.hash(*keys), F.lit(m["bucket_count"])).cast("int")

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        include_deleted: bool = False,
        min_version_exclusive: int | None = None,
    ) -> DataFrame:
        """Read the table (or selected buckets) aligned to the manifest schema.

        Old data files may lack newly added field ids and may hold narrower
        types; the explicit phys-schema read null-fills and upcasts
        (Spark parquet reader type widening), so adds/renames/widens never
        require a rewrite. Tombstoned rows are filtered unless
        `include_deleted` (the merge path reads them to keep LSN guards
        effective across deletes).

        Buckets covered by delta files are resolved: base and delta rows
        are unioned and each key keeps its max-version row, before the
        tombstone filter. A delta row is strictly newer than every row
        it beat, so this is the merge's own winner. Buckets no delta
        covers are a plain scan with no shuffle.

        `min_version_exclusive` skips whole files whose recorded
        version-field max is <= the cutoff (manifest file_stats) — file
        skipping only, NOT a row filter; callers wanting exact semantics
        use `read_changes`, which adds the residual predicate.
        """
        if version is not None and version < self.vacuum_horizon():
            raise ValueError(
                f"version {version} expired by vacuum (time-travel horizon "
                f"is v{self.vacuum_horizon()})"
            )
        m = self.manifest(version)
        fstats = m.get("file_stats", {})

        def skip(p: str) -> bool:
            if min_version_exclusive is None:
                return False
            st = fstats.get(p)
            # no stats recorded -> must read the file
            return st is not None and st[2] is not None and st[2] <= min_version_exclusive

        df, has_deltas = self._raw(m, buckets, skip)
        if has_deltas:
            df = self._resolve(m, df)
        return df if include_deleted else self._live(df)

    def _raw(
        self, m: dict, buckets: list[int] | None, skip=lambda p: False
    ) -> tuple[DataFrame, bool]:
        """Every stored row of `buckets` (all when None) under manifest
        `m`, tombstones and superseded rows included, and whether any
        delta file was read. Delta files are read per distinct set of
        still-covered requested buckets and filtered to it: a file's
        rows of a bucket folded since it was written are stale."""
        base = [
            p
            for b, flist in m["buckets"].items()
            if buckets is None or int(b) in buckets
            for p in flist
            if not skip(p)
        ]
        groups: dict[tuple[int, ...], list[str]] = {}
        for p, covered in m.get("deltas", {}).items():
            keep = tuple(b for b in covered if buckets is None or b in buckets)
            if keep and not skip(p):
                groups.setdefault(keep, []).append(p)
        df = self._scan(m, base, True)
        for keep, files in sorted(groups.items()):
            df = df.unionByName(
                self._scan(m, files, True).filter(
                    self.bucket_expr(m).isin(list(keep))
                )
            )
        return df, bool(groups)

    @staticmethod
    def _resolve(m: dict, df: DataFrame) -> DataFrame:
        """One row per key: the max-version row (tombstones included)."""
        keys, vf = m["key_fields"], m["version_field"]
        names = [f["name"] for f in m["fields"]]
        rest = [n for n in names if n not in keys and n != vf]
        won = df.groupBy(*keys).agg(
            F.max(F.struct(F.col(vf).alias("_v"), *rest)).alias("_w")
        )
        return won.select(
            *[
                F.col(n) if n in keys
                else F.col("_w._v" if n == vf else f"_w.{n}").alias(n)
                for n in names
            ]
        )

    @staticmethod
    def _live(df: DataFrame) -> DataFrame:
        return df.filter(
            ~F.coalesce(F.col("_deleted"), F.lit(False))
        ).drop("_deleted")

    def _scan(self, m: dict, files: list[str], include_deleted: bool) -> DataFrame:
        """Read `files` (root-relative) under manifest `m`'s schema."""
        if not files:
            df = self.spark.createDataFrame([], self._logical_schema(m, True))
        else:
            df = self.spark.read.schema(self._phys_schema(m)).parquet(
                *[os.path.join(self.root, p) for p in files]
            ).select(
                *[F.col(f"f{f['id']}").alias(f["name"]) for f in m["fields"]]
            )
        return df if include_deleted else self._live(df)

    def delta_rows(self, m: dict | None = None) -> int:
        """Rows in the delta files still covering some bucket."""
        m = m or self.manifest()
        stats = m.get("file_stats", {})
        return sum(int(stats.get(p, [0])[0]) for p in m.get("deltas", {}))

    # -- writes ----------------------------------------------------------------

    def write_buckets(
        self, df: DataFrame, bucket_col: str | None, version: int
    ) -> tuple[dict[str, list[str]], dict[str, int], dict[str, list]]:
        """Write `df` partitioned by bucket under a fresh
        data/v<version>/<hex>/ and return ({bucket: [relative file
        paths]}, {bucket: row count}, {relative file path: [rows,
        min_vf, max_vf]}) for the manifest. With `bucket_col` None the
        rows are written unpartitioned as delta files under
        data/v<version>/<hex>/_delta/ and only the stats map is filled.
        Physical column names (f<id>) are applied here. The per-file
        version-field range powers file skipping in `read_changes`
        (Iceberg-manifest-style column stats, collected from the parquet
        footers the commit already reads for row counts — no extra I/O)."""
        m = self.manifest()
        out_dir = os.path.join(
            self.root, "data", f"v{version}", uuid.uuid4().hex[:12]
        )
        phys_cols = [
            F.col(f["name"]).cast(spark_type_from_string(f["type"])).alias(f"f{f['id']}")
            for f in m["fields"]
        ]
        if bucket_col is None:
            out_dir = os.path.join(out_dir, "_delta")
            df.select(*phys_cols).write.parquet(out_dir, compression="zstd")
            files = [
                os.path.relpath(p, self.root)
                for p in glob.glob(os.path.join(out_dir, "*.parquet"))
            ]
            return {}, {}, self._footer_scan(files, m)
        (
            df.select(*phys_cols, F.col(bucket_col).alias("_bucket"))
            .write.partitionBy("_bucket")
            .parquet(out_dir, compression="zstd")
        )
        out: dict[str, list[str]] = {}
        for d in glob.glob(os.path.join(out_dir, "_bucket=*")):
            b = d.rsplit("=", 1)[1]
            out[b] = [
                os.path.relpath(p, self.root)
                for p in glob.glob(os.path.join(d, "*.parquet"))
            ]
        stats = self._footer_scan([p for fl in out.values() for p in fl], m)
        rows_map = {b: sum(stats[p][0] for p in fl) for b, fl in out.items()}
        return out, rows_map, stats

    def _footer_scan(self, files: list[str], m: dict) -> dict[str, list]:
        """[rows, min_vf, max_vf] per freshly written file, read from the
        parquet footers by a driver thread pool (a serial loop over
        footers was the commit's floor). Min/max are recorded only for
        integer version fields (the engine's LSN discipline); anything
        else degrades to rows-only."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        vf_phys = next(
            (f"f{f['id']}" for f in m["fields"] if f["name"] == m["version_field"]),
            None,
        )

        def scan_one(p: str) -> list:
            md = pq.read_metadata(os.path.join(self.root, p))
            vmin = vmax = None
            col_idx = next(
                (i for i in range(md.num_columns)
                 if md.schema.column(i).name == vf_phys),
                None,
            )
            if col_idx is not None:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    if (
                        st is None
                        or not st.has_min_max
                        or not isinstance(st.min, int)
                        or isinstance(st.min, bool)
                    ):
                        vmin = vmax = None
                        break
                    vmin = st.min if vmin is None else min(vmin, st.min)
                    vmax = st.max if vmax is None else max(vmax, st.max)
            return [md.num_rows, vmin, vmax]

        if not files:
            return {}
        # one submission across all buckets: the steady-state commit is
        # many buckets x one file each
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            return dict(zip(files, ex.map(scan_one, files)))

    def _commit_data(
        self,
        df: DataFrame,
        base: dict,
        replace: Iterable[int],
        lineage: dict,
        batch_id: int | None = None,
        metrics: dict | None = None,
        covers: Iterable[int] | None = None,
    ) -> dict:
        """The one data-commit rule: write `df` as version
        `base.version + 1`, then commit the child of `base`.

        Without `covers` (mode "rewrite"), `df` carries a `_bucket`
        column. Each bucket's files are base's files (none if the bucket
        is in `replace`) plus the files written now; rows follow the
        same rule. A replaced bucket is dropped from every delta file's
        covered list (its rewrite folded them); a delta file left
        covering nothing leaves the manifest. Lineage gets a
        {files, rows, replaced} entry per replaced or written bucket.

        With `covers` (mode "delta"), `df` has no `_bucket` column and
        is appended as delta files covering those buckets; `replace`
        must be empty. Lineage gets one {files, rows, buckets} entry.

        `file_stats` keeps the entries of live files and adds the new
        ones. Returns the metrics row: `metrics` plus version, mode,
        rows_written, buckets_written, delta_files and write_ms; it is
        stored beside the commit only if `metrics` is given."""
        version = base["version"] + 1
        t_write = time.time()
        file_map, rows_map, stats_map = self.write_buckets(
            df, None if covers is not None else "_bucket", version
        )
        write_ms = int((time.time() - t_write) * 1000)

        replace = {str(b) for b in replace}
        buckets = {b: fl for b, fl in base["buckets"].items() if b not in replace}
        bucket_rows = {
            b: n for b, n in base.get("bucket_rows", {}).items()
            if b not in replace
        }
        per_bucket = {}
        for b in sorted(replace | set(file_map), key=int):
            files, rows = file_map.get(b, []), rows_map.get(b, 0)
            buckets[b] = buckets.get(b, []) + files
            bucket_rows[b] = int(bucket_rows.get(b, 0)) + rows
            per_bucket[b] = {
                "files": files,
                "rows": rows,
                "replaced": base["buckets"].get(b, []) if b in replace else [],
            }
        deltas = {}
        for p, covered in base.get("deltas", {}).items():
            keep = [b for b in covered if str(b) not in replace]
            if keep:
                deltas[p] = keep
        if covers is not None:
            # an empty result still leaves one schema-only file: keep it
            # out of the manifest (vacuum removes it)
            new = sorted(p for p, st in stats_map.items() if st[0])
            covered = sorted({int(b) for b in covers})
            deltas.update({p: covered for p in new})
            written = {
                "mode": "delta",
                "delta": {
                    "files": new,
                    "rows": sum(stats_map[p][0] for p in new),
                    "buckets": covered,
                },
            }
        else:
            new = []
            written = {"mode": "rewrite", "buckets": per_bucket}
        all_stats = {**base.get("file_stats", {}), **stats_map}
        live = [p for fl in buckets.values() for p in fl] + list(deltas)
        file_stats = {p: all_stats[p] for p in live if p in all_stats}
        row = dict(
            metrics or {},
            version=version,
            mode=written["mode"],
            rows_written=sum(st[0] for st in stats_map.values()),
            buckets_written=len(file_map),
            delta_files=len(new),
            write_ms=write_ms,
        )
        self.commit(
            dict(
                base,
                version=version,
                parent=base["version"],
                batch_id=base["batch_id"] if batch_id is None else batch_id,
                buckets=buckets,
                bucket_rows=bucket_rows,
                deltas=deltas,
                file_stats=file_stats,
                lineage=dict(lineage, **written),
            ),
            row if metrics is not None else None,
        )
        return row

    def read_changes(
        self,
        since: int,
        version: int | None = None,
        include_deleted: bool = True,
    ) -> DataFrame:
        """Incremental change feed: rows whose version field (LSN) is
        strictly greater than `since` — the downstream-consumer contract
        ("give me everything committed past my cursor"). Because merges
        are LSN-guarded, a row's LSN is exactly the logical time it last
        changed, so this IS the change-data-feed; tombstones are included
        by default so consumers observe deletes. File skipping via the
        manifest's per-file LSN range (`file_stats`) means a steady-state
        poll scans only the files the recent commits actually wrote —
        at 100 TB / 64k buckets that is the handful of rewritten buckets,
        not the table. Files with no recorded stats are read (safe
        fallback for pre-stats manifests); the residual row filter below
        keeps the result exact either way."""
        df = self.read(
            version=version,
            include_deleted=include_deleted,
            min_version_exclusive=since,
        )
        return df.filter(F.col(self.manifest(version)["version_field"]) > since)

    def read_version_changes(
        self,
        since_version: int,
        version: int | None = None,
        include_deleted: bool = True,
    ) -> DataFrame:
        """All rows in files written by commits since_version+1 .. version
        (default head) — the COMPLETE incremental feed.

        `read_changes` (LSN watermark) is exact but assumes bounded
        logical-time reorder: a brand-new key arriving late with an LSN
        below the cursor would be missed forever. A version cursor
        tracks COMMITS instead, so it is complete under arbitrary event
        reordering — the trade is redelivery of carried rows from
        rewritten buckets (copy-on-write copies old rows into new
        files), which an idempotent LWW sink absorbs. A delta commit
        carries nothing: its files hold exactly the batch's winners. This is the
        consumer-offset contract: at-least-once, nothing lost — the
        same pairing the reference uses (Kafka offsets + ON CONFLICT,
        parser/main.py:85-90, db.py:197-214). Iceberg's incremental
        snapshot scan has the identical carried-row property on
        copy-on-write tables.

        Cost shape: per poll, exactly the files the polled commits
        wrote — the delta files of narrow commits and the rewritten
        buckets of wide ones, never the table. DDL commits write no
        files and contribute nothing.
        """
        v = self.current_version() if version is None else version
        horizon = self.vacuum_horizon()
        if since_version + 1 < horizon:
            raise ValueError(
                f"version-change feed from v{since_version} expired by "
                f"vacuum (horizon is v{horizon}); re-bootstrap the "
                f"consumer from a full read"
            )
        files: list[str] = []
        for vv in range(since_version + 1, v + 1):
            pref = os.path.join("data", f"v{vv}") + os.sep
            mv = self.manifest(vv)
            for flist in [*mv["buckets"].values(), mv.get("deltas", {})]:
                files.extend(p for p in flist if p.startswith(pref))
        return self._scan(self.manifest(v), files, include_deleted)

    # -- maintenance -----------------------------------------------------------

    def _rewrite_buckets(
        self, buckets: list[int], transform, note: str
    ) -> dict:
        """Copy-on-write rewrite of selected buckets through `transform`
        (DataFrame -> DataFrame), committed with lineage `note`. The
        transform sees the resolved rows, so the rewrite folds the
        buckets' deltas."""
        m = self.manifest()
        if not buckets:
            return {"skipped": True, "version": m["version"]}
        df = transform(self.read(buckets=buckets, include_deleted=True))
        # the scan packs several buckets' files into one task; hash-
        # partitioning on the keys puts each bucket in one task (one file)
        res = self._commit_data(
            df.repartition(m["bucket_count"], *[F.col(k) for k in m["key_fields"]])
            .withColumn("_bucket", self.bucket_expr(m)),
            m,
            buckets,
            {"type": note},
        )
        return {"version": res["version"], "buckets": sorted(buckets)}

    def delete_keys(self, keys_df, note: str = "corrections") -> dict:
        """Out-of-band corrections: hard-remove the given keys (the
        reference's `excluded_rows` mechanism, datalake/README.md:370-401
        / athena_ddl.sql:386-400 — rows listed there must be absent after
        a correction replay). Anti-join rewrite of affected buckets."""
        kdf = keys_df.select(*self.key_fields()).distinct().persist()
        buckets = [
            r["_b"]
            for r in kdf.withColumn("_b", self.bucket_expr())
            .select("_b").distinct().collect()
        ]
        keys_b = F.broadcast(kdf)

        def drop(df):
            return df.join(keys_b, on=self.key_fields(), how="left_anti")

        out = self._rewrite_buckets(buckets, drop, note)
        kdf.unpersist()
        return out

    def purge_tombstones(self, older_than_lsn: int) -> dict:
        """GC delete markers whose LSN is safely below the replay
        watermark. A purged key could be resurrected by an even older
        late event — choose the watermark accordingly (this is the
        standard tombstone-retention tradeoff)."""
        m = self.manifest()
        vf = m["version_field"]
        buckets = sorted(
            {int(b) for b, fl in m["buckets"].items() if fl}
            | self._delta_buckets(m)
        )

        def drop(df):
            return df.filter(
                ~(
                    F.coalesce(F.col("_deleted"), F.lit(False))
                    & (F.col(vf) < older_than_lsn)
                )
            )

        return self._rewrite_buckets(buckets, drop, "purge_tombstones")

    def rebucket(self, new_bucket_count: int) -> dict:
        """Rewrite the table under a new bucket count — the escape hatch
        when data outgrows the layout (a table bootstrapped at 32
        buckets needs 64k at full scale: more write parallelism, finer
        merge pruning). One full shuffle + rewrite, committed atomically
        like any other version; readers on the old snapshot are
        unaffected, and the next merge picks up the new `bucket_count`
        from the manifest (bucket_expr derives from it). Iceberg calls
        this rewriting to a new partition spec; the reference's
        analogue is the repartition/CTAS maintenance jobs
        (datalake/repartition.py, metadata_snapshot.py bucketed CTAS)."""
        m = self.manifest()
        if new_bucket_count == m["bucket_count"]:
            return {"skipped": True, "version": m["version"]}
        if new_bucket_count < 1:
            raise ValueError(f"bucket_count must be >= 1, got {new_bucket_count}")
        df = self.read(include_deleted=True)
        base = dict(
            m, bucket_count=new_bucket_count, buckets={}, bucket_rows={},
            deltas={},
        )
        res = self._commit_data(
            df.repartition(new_bucket_count, *[F.col(k) for k in m["key_fields"]])
            .withColumn("_bucket", self.bucket_expr(base)),
            base,
            range(new_bucket_count),
            {"type": "rebucket", "from": m["bucket_count"], "to": new_bucket_count},
        )
        return {
            "version": res["version"],
            "from": m["bucket_count"],
            "to": new_bucket_count,
        }

    def compact(self, max_files: int = 1) -> dict:
        """Rewrite buckets fragmented into more than `max_files` files
        or covered by delta files (the reference's snapshot/repartition
        compaction jobs)."""
        m = self.manifest()
        buckets = sorted(
            {int(b) for b, fl in m["buckets"].items() if len(fl) > max_files}
            | self._delta_buckets(m)
        )
        return self._rewrite_buckets(buckets, lambda df: df, "compact")

    @staticmethod
    def _delta_buckets(m: dict) -> set[int]:
        return {b for covered in m.get("deltas", {}).values() for b in covered}

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete data files not referenced by the last `keep_last`
        versions. Vacuum BOUNDS THE TIME-TRAVEL HORIZON: versions older
        than the kept window keep their manifests (history/lineage stays
        queryable) but their data may be gone, so `read(version=old)`
        fails with an explicit horizon error instead of a
        FileNotFoundException mid-scan."""
        cur = self.current_version()
        horizon = max(0, cur - keep_last + 1)
        keep: set[str] = set()
        for v in range(horizon, cur + 1):
            mv = self.manifest(v)
            for flist in mv["buckets"].values():
                keep.update(flist)
            keep.update(mv.get("deltas", {}))
        removed = 0
        for p in glob.glob(
            os.path.join(self.root, "data", "**", "*.parquet"), recursive=True
        ):
            if os.path.relpath(p, self.root) not in keep:
                os.remove(p)
                removed += 1
        hpath = os.path.join(self.root, "_vacuum_horizon")
        tmp = hpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(horizon))
        os.replace(tmp, hpath)
        return removed

    def vacuum_horizon(self) -> int:
        p = os.path.join(self.root, "_vacuum_horizon")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def history(self) -> list[dict]:
        out = []
        for p in sorted(
            glob.glob(os.path.join(self.root, "_versions", "v*.json")),
            key=lambda p: int(os.path.basename(p)[1:-5]),
        ):
            with open(p) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "batch_id": m["batch_id"],
                    "lineage": m.get("lineage", {}),
                }
            )
        return out
