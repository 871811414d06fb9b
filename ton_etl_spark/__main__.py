"""CLI entrypoint — `spark-submit --py-files ton_etl_spark.zip -m` style
usage (north rule: run via spark-submit on a multi-executor cluster).

    python -m ton_etl_spark gen     --out DIR [--events N] [--files K]
    python -m ton_etl_spark init    --lake DIR [--buckets B]
    python -m ton_etl_spark stream  --lake DIR --events DIR --checkpoint DIR
                                    [--mft K] [--metrics PATH] [--continuous]
    python -m ton_etl_spark replay  --lake DIR --events DIR   (batch mode)
    python -m ton_etl_spark show    --lake DIR [--version V] [--limit N]
    python -m ton_etl_spark history --lake DIR
    python -m ton_etl_spark verify  --lake DIR --events DIR   (oracle parity)

With spark-submit, zip the package and pass --py-files; the driver here
only needs an active SparkSession (getOrCreate picks up the cluster
master/conf).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ton_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--files", type=int, default=8)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--facts", type=float, default=0.0,
                   help="share of trade/metadata/comment fact events")

    i = sub.add_parser("init")
    i.add_argument("--lake", required=True)
    i.add_argument("--buckets", type=int, default=64)
    i.add_argument("--overwrite", action="store_true")

    for name in ("stream", "replay", "verify"):
        s = sub.add_parser(name)
        s.add_argument("--lake", required=True)
        s.add_argument("--events", required=True)
        if name == "stream":
            s.add_argument("--checkpoint", required=True)
            s.add_argument("--mft", type=int, default=4)
            s.add_argument("--metrics", default=None)
            s.add_argument("--continuous", action="store_true")
            s.add_argument("--source", default="files",
                           choices=("files", "kafka"))
            s.add_argument("--kafka-bootstrap", default=None)
            s.add_argument("--kafka-topics", default=None)
            s.add_argument("--maturity", type=int, default=None,
                           help="event-age gate in LSN units (F5)")
            s.add_argument("--silver", default=None,
                           help="root dir for silver fan-out tables")
            s.add_argument("--gold", default=None,
                           help="root dir for the gold tables "
                                "(decayed_price + asset_tvl; requires "
                                "--silver)")

    sh = sub.add_parser("show")
    sh.add_argument("--lake", required=True)
    sh.add_argument("--version", type=int, default=None)
    sh.add_argument("--limit", type=int, default=20)

    h = sub.add_parser("history")
    h.add_argument("--lake", required=True)

    fd = sub.add_parser(
        "feed", help="change feed: rows with LSN > --since (deletes visible)"
    )
    fd.add_argument("--lake", required=True)
    fd.add_argument("--since", type=int, required=True)
    fd.add_argument("--limit", type=int, default=20)

    args = ap.parse_args(argv)

    if args.cmd == "gen":
        from .datagen import GenParams, generate_event_log

        paths = generate_event_log(
            args.out,
            GenParams(n_events=args.events, n_files=args.files,
                      seed=args.seed, p_facts=args.facts),
        )
        print(json.dumps({"files": len(paths), "dir": args.out}))
        return 0

    from .session import get_spark

    spark = get_spark("ton_etl_spark-cli")
    from .lake.table import LakeTable

    if args.cmd == "init":
        from .schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

        LakeTable.create(
            spark, args.lake, REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn",
            bucket_count=args.buckets, overwrite=args.overwrite,
        )
        print(json.dumps({"lake": args.lake, "version": 0}))
        return 0

    table = LakeTable(spark, args.lake)

    if args.cmd == "show":
        table.read(version=args.version).show(args.limit, truncate=40)
        return 0
    if args.cmd == "history":
        # write mode per data commit (DDL commits have none): "rewrite"
        # replaced bucket files, "delta" appended the batch's winners
        for h in table.history():
            delta = h["lineage"].get("delta", {})
            print(json.dumps(dict(
                h,
                mode=h["lineage"].get("mode"),
                delta_files=len(delta.get("files", [])),
                delta_rows=delta.get("rows", 0),
            )))
        return 0
    if args.cmd == "feed":
        feed = table.read_changes(args.since)
        feed.orderBy(table.version_field()).show(args.limit, truncate=40)
        print(json.dumps({
            "since": args.since,
            "rows": feed.count(),
            "files_scanned": len(feed.inputFiles()),
        }))
        return 0

    from .cdc.pipeline import CdcPipeline

    if args.cmd in ("stream", "replay"):
        fanout = gold = None
        if getattr(args, "silver", None):
            from .cdc.silver import SilverFanout

            fanout = SilverFanout(spark, args.silver)
            if getattr(args, "gold", None):
                from .gold import GoldAssetTvl, GoldDecayedPrice

                # pre-r3 layouts kept the decayed-price table directly
                # at --gold; silently creating a fresh table one level
                # down would orphan it and serve an empty datamart
                if os.path.exists(os.path.join(args.gold, "_current")):
                    raise SystemExit(
                        f"--gold {args.gold} holds a legacy single-table "
                        "layout; move it to <gold>/decayed_price (gold "
                        "now hosts one subdirectory per table)"
                    )
                gold = [
                    GoldDecayedPrice(
                        spark, args.gold + "/decayed_price",
                        fanout.tables["trades"],
                    ),
                    GoldAssetTvl(
                        spark, args.gold + "/asset_tvl",
                        fanout.tables["trades"],
                    ),
                ]
        kafka_opts = None
        if getattr(args, "source", "files") == "kafka":
            from .cdc.kafka_io import kafka_source_options

            kafka_opts = kafka_source_options(
                args.kafka_bootstrap or "localhost:9092",
                (args.kafka_topics or "").split(","),
            )
        pipe = CdcPipeline(
            spark, table, args.events,
            getattr(args, "checkpoint", args.lake + "_cp"),
            max_files_per_trigger=getattr(args, "mft", 4),
            source=getattr(args, "source", "files"),
            kafka_options=kafka_opts,
            maturity=getattr(args, "maturity", None),
            fanout=fanout,
            gold=gold,
        )
        if args.cmd == "stream":
            pipe.run_streaming(
                available_now=not args.continuous,
                metrics_path=args.metrics,
            )
        else:
            pipe.run_batch()
        print(json.dumps({"batches": pipe.batches_applied,
                          "version": table.current_version()}))
        return 0

    if args.cmd == "verify":
        import dataclasses

        from pyspark.sql import functions as F

        from .oracle import reduce_events
        from .schemas import CHANGE_EVENT_SCHEMA

        rows = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(args.events).collect()
        state, cols = reduce_events([r.asDict() for r in rows])
        df = table.read()
        got = {
            (r["repo"], r["path"]): r["sha"]
            for r in df.select(
                "repo", "path", F.sha2("content", 256).alias("sha")
            ).collect()
        }
        import hashlib

        exp = {
            k: hashlib.sha256(v["content"].encode()).hexdigest()
            if v.get("content") is not None
            else None
            for k, v in state.items()
        }
        ok = got == exp
        print(json.dumps({"rows": len(got), "oracle_rows": len(exp), "parity": ok}))
        return 0 if ok else 1
    return 2


if __name__ == "__main__":
    sys.exit(main())
