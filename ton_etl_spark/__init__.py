"""ton_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the capabilities of re-doubt/ton-etl (see
/root/repo/SURVEY.md): a change-event log (insert/update/delete/rename/
schema-change events keyed by (repo, path)) is tailed with Structured
Streaming, decoded by per-event-type vectorized Arrow parsers, deduped by
LSN, and applied to a bucketed lake table (copy-on-write buckets plus
merge-on-read delta files) via an idempotent,
last-writer-wins MERGE with exactly-once commit semantics — the Spark-first
re-expression of ton-etl's Kafka -> parser -> Postgres-upsert -> datalake
pipeline (reference: parser/main.py, datalake/main.py).

Layers (mirroring the reference's public.* / parsed.* / prices.* layering,
SURVEY.md §1.1):
  bronze  — the raw change-event log (parquet dir, streamed)
  silver  — the `repos` lake table maintained by MERGE (ton_etl_spark.lake)
  gold    — datamart operators (snapshots, as-of joins, decayed aggs, ...)
            in ton_etl_spark.operators
"""

__version__ = "0.1.0"
