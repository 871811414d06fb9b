"""Operator query registry + DuckDB oracle SQL.

One entry per implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators), runnable against the driver's
testdata (`/root/testdata/sf*/`). Each Spark query has a matching ANSI
SQL string producing identical column names and values (aggregates are
rounded at the same points on both sides); operators whose kernels are
not SQL-expressible (xxhash64 minhash, simhash, LSH ANN, the CDC replay
itself) are registered without an oracle -> the driver records a
rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from .functions import date_bucket, normalize_address, opcode_signed, opcode_unsigned
from .operators import (
    asof_join,
    chain_signature,
    exclude_rows,
    latest_state,
    time_decayed_avg,
)
from .operators import components as CC
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators.setops import except_dedup
from .operators.text import analyze as text_analyze


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# CDC-core relational operators over `events` (key=user_id, order=ts)
# ---------------------------------------------------------------------------

def q_latest_state(spark, sf):
    ev = _t(spark, sf, "events")
    return latest_state(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 6).alias("last_value"),
    )


O_LATEST_STATE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       round(value, 6) AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def q_state_dedup(spark, sf):
    # the merge kernel's LSN-max dedup as a standalone query (K2/T5):
    # winner per (user_id, event_type) by highest event_id
    ev = _t(spark, sf, "events")
    won = ev.groupBy("user_id", "event_type").agg(
        F.max(F.struct(F.col("event_id"), F.col("value"))).alias("_w")
    )
    return won.select(
        "user_id",
        "event_type",
        F.col("_w.event_id").alias("last_event_id"),
        F.round("_w.value", 6).alias("last_value"),
    )


O_STATE_DEDUP = """
SELECT user_id, event_type, event_id AS last_event_id,
       round(value, 6) AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY event_id DESC) = 1
"""


def q_asof_join(spark, sf):
    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup")
    out = asof_join(
        purchases, signups, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], strict=True,
    )
    return out.filter(F.col("asof_value").isNotNull()).select(
        "user_id",
        "event_id",
        F.round("asof_value", 6).alias("signup_value"),
    )


O_ASOF_JOIN = """
SELECT p.user_id, p.event_id, round(s.value, 6) AS signup_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts > s.ts
"""


def q_decayed_avg(spark, sf):
    ev = _t(spark, sf, "events").withColumn("es", F.unix_timestamp("ts"))
    out = time_decayed_avg(ev, ["event_type"], "es", "value",
                           window_s=1800, half_life_s=1800)
    return out.select(
        "event_type", "window_start",
        F.round("decayed_avg", 6).alias("decayed_avg"), "n_obs",
    )


O_DECAYED_AVG = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events
), w AS (
  SELECT event_type, CAST(floor(es / 1800) * 1800 AS BIGINT) AS window_start,
         es, value
  FROM e
)
SELECT event_type, window_start,
       round(sum(value * pow(2, -((window_start + 1800) - es) / 1800.0))
             / sum(pow(2, -((window_start + 1800) - es) / 1800.0)), 6)
         AS decayed_avg,
       count(*) AS n_obs
FROM w GROUP BY event_type, window_start
"""


def q_daily_rollup(spark, sf):
    ev = _t(spark, sf, "events").withColumn("es", F.unix_timestamp("ts"))
    return ev.groupBy(
        "event_type", date_bucket(F.col("es")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


O_DAILY_ROLLUP = """
SELECT event_type, strftime(ts, '%Y%m%d') AS day, count(*) AS n,
       round(sum(value), 4) AS sum_value, round(avg(value), 6) AS avg_value
FROM events GROUP BY event_type, day
"""


def q_hourly_windows(spark, sf):
    """Tumbling-window rollup via the built-in `window()` expression —
    the batch twin of the watermarked streaming aggregate
    (streaming/windows.py); stream/batch parity is held by
    tests/test_streaming_windows.py, so this oracle row transitively
    checks the streaming rollup's arithmetic too."""
    from .streaming.windows import windowed_rollup

    return windowed_rollup(
        _t(spark, sf, "events"), "ts", "event_type", "value",
        window_len="1 hour",
    )


O_HOURLY_WINDOWS = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_s,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY window_start_s, event_type
"""


def q_chain_signature(spark, sf):
    ev = _t(spark, sf, "events")
    return chain_signature(ev, "user_id", ["ts", "event_id"], "event_type", 4)


O_CHAIN_SIGNATURE = """
WITH l AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS evs
  FROM events GROUP BY user_id
)
SELECT user_id,
       array_to_string(evs[greatest(len(evs) - 3, 1):len(evs)], ',') AS chain
FROM l
"""


def q_except_dedup(spark, sf):
    ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type")
    target = ev.filter(F.col("event_id") % 3 == 0)
    newr = _t(spark, sf, "events").filter(
        F.col("ts") >= F.lit("2024-01-25")
    ).select("event_id", "user_id", "event_type")
    return except_dedup(newr, target)


O_EXCEPT_DEDUP = """
SELECT event_id, user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-25'
EXCEPT
SELECT event_id, user_id, event_type FROM events WHERE event_id % 3 = 0
"""


def q_exclusion_antijoin(spark, sf):
    ev = _t(spark, sf, "events")
    excl = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 190)
    ).select("user_id")
    kept = exclude_rows(ev, excl, ["user_id"])
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


O_EXCLUSION_ANTIJOIN = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events x
  WHERE x.user_id = e.user_id AND x.event_type = 'error' AND x.value > 190
)
GROUP BY event_type
"""


def q_union_convert(spark, sf):
    # P1: two source shapes projected into one export model, unioned
    ev = _t(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.round("value", 6).alias("amount"),
        F.lit("purchase").alias("src"),
    )
    b = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.round("value", 6).alias("amount"),
        F.lit("error").alias("src"),
    )
    return a.unionByName(b)


O_UNION_CONVERT = """
SELECT event_id, user_id, round(value, 6) AS amount, 'purchase' AS src
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, round(value, 6) AS amount, 'error' AS src
FROM events WHERE event_type = 'error'
"""


def q_running_window(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 10)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_sum"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


def q_user_sessions(spark, sf):
    """Gap-based session windows (gaps-and-islands): the batch twin of
    the applyInPandasWithState streaming operator — parity between the
    two is held by tests/test_streaming_sessions.py, so this oracle row
    transitively checks the streaming semantics too."""
    from .operators.sessions import session_windows

    ev = _t(spark, sf, "events")
    return session_windows(ev, "user_id", "ts", gap_s=28800, value_col="value")


O_USER_SESSIONS = """
WITH x AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events
), y AS (
  SELECT user_id, es, value,
         CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 28800
              THEN 1 ELSE 0 END AS brk
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY es)
), z AS (
  SELECT user_id, es, value,
         -- CAST: DuckDB widens integer window-SUM to HUGEINT (int128);
         -- the driver's value-hash renders int128 differently from
         -- Spark BIGINT even when values are identical (r3 red row).
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY es
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM y
)
SELECT user_id, session_id, min(es) AS session_start_s,
       max(es) AS session_end_s, count(*) AS n_events,
       round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6)
         AS total_value
FROM z GROUP BY user_id, session_id
"""


O_RUNNING_WINDOW = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
       count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
FROM events WHERE user_id < 10
"""


def q_parent_event(spark, sf):
    # J1 analogue: stitch each event to its parent (previous event of the
    # same user) — the message -> parent-message self-join, expressed as
    # a window lag (one shuffle, no join)
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("parent_event_id"),
        F.lag("event_type").over(w).alias("parent_type"),
    )


O_PARENT_EVENT = """
SELECT user_id, event_id,
       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS parent_event_id,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS parent_type
FROM events WHERE user_id < 20
"""


def q_explode_props(spark, sf):
    # P2 analogue: 1 -> N flatMap (one swap -> several Trade rows,
    # dex_trades.py:70-180) — split each document into numbered lines
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    words = F.split(F.col("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.posexplode(words).alias("word_idx", "word"),
    ).filter(F.col("word_idx") < 5)


O_EXPLODE_PROPS = """
SELECT doc_id, CAST(u.idx - 1 AS INT) AS word_idx, u.word
FROM documents,
     LATERAL (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word,
                     generate_subscripts(regexp_split_to_array(text, '\\s+'), 1)
                       AS idx) u
WHERE doc_id < 40 AND u.idx <= 5
"""


def q_debezium_roundtrip(spark, sf):
    # P3: Debezium variable-scale decimal decode — encode event_id*100 at
    # scale 2 JVM-side (two's-complement bytes + base64), decode with the
    # vectorized UDF; the oracle is simply the original value
    from .functions import debezium_int

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 3000)
    # ANSI-safe big-endian two's-complement encode: values are
    # non-negative and < 2^63, so 8 zero-padded hex bytes == the
    # bigint's two's-complement encoding (a bigint->binary cast is
    # illegal under ANSI mode, which the driver harness runs with)
    unscaled = (F.col("event_id") * 100).cast("long")
    b64 = F.base64(F.unhex(F.lpad(F.hex(unscaled), 16, "0")))
    return ev.select(
        "event_id",
        debezium_int(b64, F.lit(2)).alias("decoded"),
    )


O_DEBEZIUM_ROUNDTRIP = """
SELECT event_id, event_id AS decoded FROM events WHERE event_id < 3000
"""


def q_trade_decimal(spark, sf):
    # P3 at full range: Debezium decimal decode into DecimalType(38,0)
    # with values CROSSING 2^63 (the reference's unbounded `numeric`
    # amounts, athena_ddl.sql:84,332-338). 16-byte two's-complement
    # fixtures are assembled JVM-side: value = hi * 2^64 + lo.
    from .cdc.parsers import debezium_decimal

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 2000)
    hi = (F.col("event_id") + 1).cast("long")              # > 0 -> value > 2^64
    lo = ((F.col("event_id") * 2654435761) % 4294967296).cast("long")
    b = F.concat(
        F.unhex(F.lpad(F.hex(hi), 16, "0")),
        F.unhex(F.lpad(F.hex(lo), 16, "0")),
    )
    scale = (F.col("event_id") % 3).cast("int")
    # The decimal(38,0) kernel value is exact (verified row-for-row vs
    # DuckDB) but the driver's value-hash layer normalizes
    # Decimal objects inconsistently across engines, so the comparison
    # column is the unambiguous string rendering; the decimal itself is
    # still exercised (the cast comes AFTER the full decode).
    return ev.select(
        "event_id",
        scale.alias("scale"),
        debezium_decimal(F.base64(b), scale).cast("string").alias("amount"),
    )


O_TRADE_DECIMAL = """
WITH t AS (
  SELECT event_id,
         CAST(event_id % 3 AS INT) AS scale,
         CAST(event_id + 1 AS HUGEINT) * 18446744073709551616::HUGEINT
           + CAST((event_id * 2654435761) % 4294967296 AS HUGEINT) AS v
  FROM events WHERE event_id < 2000
)
SELECT event_id, scale,
       CAST(CAST(v // (CASE scale WHEN 0 THEN 1 WHEN 1 THEN 10 ELSE 100 END)
            AS DECIMAL(38,0)) AS VARCHAR) AS amount
FROM t
"""


def q_csv_struct(spark, sf):
    # P6: CSV string -> named struct (jetton_metadata `sources` record,
    # datalake/converters/jetton_metadata.py:26-35), including a short
    # row whose missing trailing fields become NULL (NonCritical)
    from .cdc.parsers import csv_struct

    names = ["jetton", "admin", "metadata", "image", "symbol_src", "decimals_src"]
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 1500)
    fields = [
        ((F.col("event_id") * (i + 7)) % 1000).cast("string") for i in range(6)
    ]
    csv = F.when(
        F.col("event_id") % 10 == 0, F.concat_ws(",", *fields[:3])
    ).otherwise(F.concat_ws(",", *fields))
    s = csv_struct(csv, names)
    return ev.select(
        "event_id", *[s.getField(n).alias(n) for n in names]
    )


O_CSV_STRUCT = """
WITH t AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0
              THEN [((event_id * 7) % 1000)::VARCHAR,
                    ((event_id * 8) % 1000)::VARCHAR,
                    ((event_id * 9) % 1000)::VARCHAR]
              ELSE [((event_id * 7) % 1000)::VARCHAR,
                    ((event_id * 8) % 1000)::VARCHAR,
                    ((event_id * 9) % 1000)::VARCHAR,
                    ((event_id * 10) % 1000)::VARCHAR,
                    ((event_id * 11) % 1000)::VARCHAR,
                    ((event_id * 12) % 1000)::VARCHAR] END AS p
  FROM events WHERE event_id < 1500
)
SELECT event_id, p[1] AS jetton, p[2] AS admin, p[3] AS metadata,
       p[4] AS image, p[5] AS symbol_src, p[6] AS decimals_src
FROM t
"""


def q_content_codec(spark, sf):
    # E3/E4 codec path as a roundtrip identity: pack (zlib+base64) then
    # decode with the engine's vectorized UDF — the oracle is the
    # original text (the comment/message-content decode analogue,
    # reference decode_comment.py:27-35)
    from .cdc.parsers import pack_zb64, unpack_zb64

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id", unpack_zb64(pack_zb64(F.col("text"))).alias("text")
    )


O_CONTENT_CODEC = """
SELECT doc_id, text FROM documents WHERE doc_id < 200
"""


def q_relay_export(spark, sf):
    # K4/K5: the export relay's converter projection run as a batch over
    # an envelope synthesized from `documents` — P1 rename/reshape, E5
    # content sha, E6 event-date partition column (cdc/relay.py)
    from .cdc.parsers import pack_zb64
    from .cdc.relay import convert_for_export

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    payload = F.to_json(
        F.struct(
            F.substring("text", 1, 8).alias("commit"),
            F.lit("py").alias("lang"),
            pack_zb64(F.col("text")).alias("content_z"),
            F.lit(0).alias("size_scale"),
            F.base64(
                F.unhex(F.lpad(F.hex(F.length("text").cast("long")), 16, "0"))
            ).alias("size_value"),
            F.col("doc_id").cast("long").alias("stars"),
        )
    )
    events = docs.select(
        F.col("doc_id").cast("long").alias("lsn"),
        (F.col("doc_id") * 1000).cast("long").alias("ts_ms"),
        F.lit("c").alias("op"),
        F.lit("file_upsert").alias("event_type"),
        F.concat(F.lit("r"), (F.col("doc_id") % 5).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("path"),
        payload.alias("payload"),
    )
    out = convert_for_export(events)
    return out.select(
        "repo", "path", "lsn", "commit", "content_sha", "block_date",
        "size_bytes", "stars",
    )


O_RELAY_EXPORT = """
SELECT 'r' || (doc_id % 5)::VARCHAR AS repo,
       'p' || doc_id::VARCHAR AS path,
       CAST(doc_id AS BIGINT) AS lsn,
       left(text, 8) AS commit,
       sha256(text) AS content_sha,
       strftime(to_timestamp((doc_id * 1000 + 1700000000000) / 1000),
                '%Y%m%d') AS block_date,
       CAST(length(text) AS BIGINT) AS size_bytes,
       CAST(doc_id AS BIGINT) AS stars
FROM documents WHERE doc_id < 300
"""


def q_relay_cas_export(spark, sf):
    """K4 content-addressed exporter (cdc/cas_export.py): the
    relay_export envelope written through the distributed CAS sink
    (sha256-of-bytes file names, datalake/main.py:144-150 analogue),
    then read BACK from the content-addressed files — so the oracle
    checks the full serialize->hash->publish->scan roundtrip, not just
    the projection. Written twice on purpose: the second export must
    produce byte-identical names (idempotence is part of the contract
    under test; duplicate rows here would fail the count match)."""
    import tempfile

    from .cdc.cas_export import cas_export

    q = QUERIES["relay_export"]
    out_dir = tempfile.mkdtemp(prefix="cas_q_")
    converted = q(spark, sf)
    cas_export(converted, out_dir, "block_date")
    cas_export(converted, out_dir, "block_date")  # idempotent rewrite
    import glob as _g
    import os as _os

    files = sorted(_g.glob(_os.path.join(out_dir, "block_date=*", "*.parquet")))
    return spark.read.parquet(*files).select(
        "repo", "path", "lsn", "commit", "content_sha", "block_date",
        "size_bytes", "stars",
    )


# same projection as relay_export: the CAS roundtrip must be lossless
O_RELAY_CAS_EXPORT = O_RELAY_EXPORT


def q_volume_rules(spark, sf):
    # A7 analogue: row-wise conditional valuation (estimate_tvl's rule
    # table, swap_volume.py:125-197): per-event USD volume under rules,
    # then a per-user rollup
    ev = _t(spark, sf, "events")
    vol = (
        F.when(F.col("event_type") == "purchase", F.col("value") * 2.0)
        .when(F.col("event_type") == "view", F.col("value") * 0.1)
        .when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
    )
    return ev.groupBy("user_id").agg(
        F.round(F.sum(vol), 4).alias("volume"),
        F.count(vol).alias("n_valued"),
    )


O_VOLUME_RULES = """
SELECT user_id,
       round(sum(CASE WHEN event_type = 'purchase' THEN value * 2.0
                      WHEN event_type = 'view' THEN value * 0.1
                      WHEN event_type = 'error' THEN NULL
                      ELSE value END), 4) AS volume,
       count(CASE WHEN event_type = 'purchase' THEN value * 2.0
                  WHEN event_type = 'view' THEN value * 0.1
                  WHEN event_type = 'error' THEN NULL
                  ELSE value END) AS n_valued
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# relational / TPC-H-ish coverage
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


O_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_region_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


O_REGION_REVENUE = """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_topk_orders(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


O_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_distinct_brands(spark, sf):
    return _t(spark, sf, "part").select("p_brand").distinct()


O_DISTINCT_BRANDS = "SELECT DISTINCT p_brand FROM part"


# ---------------------------------------------------------------------------
# scalar function surface (E1/E2/E6)
# ---------------------------------------------------------------------------

def q_opcode_roundtrip(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 2000)
    op = (F.col("event_id") * 2654435761) % 4294967296
    signed = opcode_signed(op)
    return ev.select(
        "event_id",
        signed.alias("op_signed"),
        (opcode_unsigned(signed) == op).alias("roundtrip_ok"),
    )


O_OPCODE_ROUNDTRIP = """
WITH t AS (
  SELECT event_id, (event_id * 2654435761) % 4294967296 AS op
  FROM events WHERE event_id < 2000
)
SELECT event_id,
       CASE WHEN op < 2147483648 THEN op ELSE op - 4294967296 END AS op_signed,
       TRUE AS roundtrip_ok
FROM t
"""


def q_normalize_address(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 1000)
    addr = F.concat(
        F.lit("raw/"), (F.col("user_id") % 3).cast("string"), F.lit("/"),
        F.lower(F.hex(F.col("event_id") + 1)),
    )
    return ev.select(
        "event_id", normalize_address(addr).alias("norm_addr")
    )


O_NORMALIZE_ADDRESS = """
SELECT event_id,
       (user_id % 3)::VARCHAR || ':' || upper(hex(event_id + 1)) AS norm_addr
FROM events WHERE event_id < 1000
"""


# ---------------------------------------------------------------------------
# corpus curation: text analysis / dedup
# ---------------------------------------------------------------------------

_PUNCT_SQL = """'[.,;:!?()\\[\\]{}"'']'"""
_SW = "'the','and','of','el','la','que','der','und','die','le','et','les'"


def q_text_analyze(spark, sf):
    return text_analyze(_t(spark, sf, "documents"), "doc_id", "text")


O_TEXT_ANALYZE = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         regexp_split_to_array(trim(text), '\\s+') AS wtoks
  FROM documents
), m AS (
  SELECT doc_id, text, toks,
    len(wtoks) AS n_tokens,
    len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])'))
      AS n_subtokens,
    (length(text) - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')))
          / greatest(length(text), 1) AS raw_punct,
    len(list_filter(toks, x -> x IN ({_SW})))
          / greatest(len(toks), 1) AS raw_sw,
    len(list_filter(toks, x -> x IN ('the','and','of'))) AS s_en,
    len(list_filter(toks, x -> x IN ('el','la','que'))) AS s_es,
    len(list_filter(toks, x -> x IN ('der','und','die'))) AS s_de,
    len(list_filter(toks, x -> x IN ('le','et','les'))) AS s_fr
  FROM t
)
SELECT doc_id, n_tokens, n_subtokens,
  round(raw_punct, 6) AS punct_ratio,
  round(raw_sw, 6) AS stopword_ratio,
  round(0.5 * least(n_tokens / 100.0, 1.0)
        + 0.3 * least(raw_sw * 5, 1.0)
        + 0.2 * (1 - least(raw_punct * 4, 1.0)), 6) AS quality,
  CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
       WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
       ELSE 'fr' END AS pred_lang,
  sha256(trim(regexp_replace(regexp_replace(lower(text), {_PUNCT_SQL}, '', 'g'),
                             '\\s+', ' ', 'g'))) AS fingerprint
FROM m
"""


def q_exact_dup_groups(spark, sf):
    g = DD.exact_duplicates(_t(spark, sf, "documents"), "doc_id", "text")
    return g.select(
        "content_sha",
        "n_docs",
        F.concat_ws(
            ",", F.transform(F.col("doc_ids"), lambda x: x.cast("string"))
        ).alias("doc_ids"),
    )


O_EXACT_DUP_GROUPS = """
SELECT sha256(text) AS content_sha, count(*) AS n_docs,
       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
FROM documents GROUP BY sha256(text)
"""


def q_jaccard_pairs(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    return DD.jaccard_pairs(docs, "doc_id", "text", threshold=0.0, k=1)


O_JACCARD_PAIRS = """
WITH s AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id < 60
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.toks, b.toks))
             / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
FROM s a, s b WHERE a.doc_id < b.doc_id
"""


def q_minhash_lsh_pairs(spark, sf):  # no SQL oracle: xxhash64 is Spark-side
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return DD.lsh_candidate_pairs(docs, "doc_id", "text", n_perm=16, bands=8)


def q_minhash_near_dup(spark, sf):
    """MinHash LSH candidates + exact-jaccard verification: the output
    is driver-checkable against the all-pairs oracle because verified
    precision is structural and the single-row-band candidate recall at
    t>=0.8 misses a pair with probability ~(1-t)^16 (< 1e-11) — checked
    exhaustively against the exact answer on all three test corpora."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return DD.minhash_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.8, n_perm=16, bands=16, k=1
    )


O_MINHASH_NEAR_DUP = """
WITH s AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id < 300
)
SELECT * FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.toks, b.toks))
               / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
  FROM s a, s b WHERE a.doc_id < b.doc_id
) WHERE jaccard >= 0.8
"""


def q_simhash_pairs(spark, sf):  # no SQL oracle: xxhash64 simhash kernel
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return DD.simhash_near_dups(docs, "doc_id", "text", max_hamming=8)


def q_simhash_near_dup(spark, sf):
    """Oracle-green twin for the SimHash family:
    portable_hash=True derives the 64 signature bits from md5(token),
    which DuckDB reproduces bit-for-bit, so the oracle recomputes the
    SAME signatures all-pairs and equality is STRUCTURAL — pigeonhole
    block-LSH guarantees 100% candidate recall within the hamming
    radius (dedup.py simhash_near_dups), no probabilistic caveat."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return DD.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=8, portable_hash=True
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# Same md5-derived simhash, recomputed from scratch in SQL: per-token
# 64 bits = two 32-bit halves of md5 hex (hi -> bits 32..63), per-bit
# majority votes, hamming = count of disagreeing vote signs. INTEGER
# casts keep DuckDB's HUGEINT sums out of the output schema.
O_SIMHASH_NEAR_DUP = """
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 300
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
  FROM t
),
votes AS (
  SELECT doc_id, i,
         CASE WHEN 2 * sum(CASE WHEN i < 32
                                THEN (lo >> CAST(i AS INTEGER)) & 1
                                ELSE (hi >> CAST(i - 32 AS INTEGER)) & 1
                           END)
                  > count(*) THEN 1 ELSE 0 END AS bit
  FROM h, range(64) r(i)
  GROUP BY doc_id, i
),
ham AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
              AS INTEGER) AS hamming
  FROM votes a JOIN votes b ON a.i = b.i AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8
"""


def q_dedup_clusters(spark, sf):
    """Transitive near-dup clustering: MinHash-LSH pairs -> distributed
    connected components (min-label propagation + pointer doubling,
    operators/components.py). Every doc gets a cluster_id = min doc id
    of its component (singletons cluster with themselves), which an
    exact recursive-CTE oracle reproduces engine-portably."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return CC.near_dup_clusters(
        docs, "doc_id", "text", threshold=0.8, n_perm=16, bands=16, k=1
    )


# Recursive CTE = the exact transitive closure over the exact all-pairs
# jaccard edges (the same edge set minhash_near_dup is proven equal to).
_O_CC_WALK = """
 s AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id < 300
 ),
 pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM s a, s b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.toks, b.toks))
              / len(list_distinct(a.toks || b.toks)), 6) >= 0.8
 ),
 edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
 walk(node, origin) AS (
   SELECT doc_id, doc_id FROM s
   UNION
   SELECT e.v, w.origin FROM walk w JOIN edges e ON e.u = w.node
 ),
 comp AS (
   SELECT node AS doc_id, CAST(min(origin) AS BIGINT) AS cluster_id
   FROM walk GROUP BY node
 )
"""

O_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
{_O_CC_WALK}
SELECT doc_id, cluster_id FROM comp
"""


def q_near_dup_curation(spark, sf):
    """Cluster -> canonical keep: per near-dup cluster keep the longest
    doc (ties -> smallest id). The keep-list a curation pipeline joins
    back against the corpus; one window shuffle on cluster_id."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    clusters = CC.near_dup_clusters(
        docs, "doc_id", "text", threshold=0.8, n_perm=16, bands=16, k=1
    )
    kept = CC.canonical_docs(docs, clusters, "doc_id", "n_chars")
    return kept.select(
        "cluster_id",
        "n_docs",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_chars").alias("kept_chars"),
    )


O_NEAR_DUP_CURATION = f"""
WITH RECURSIVE
{_O_CC_WALK},
 j AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
  FROM comp c JOIN documents d USING (doc_id)
 )
SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS kept_doc_id, n_chars AS kept_chars
FROM j WHERE rn = 1
"""


def q_near_dup_pipeline(spark, sf):
    """Second curation flagship: TRANSITIVE near-dup dedup (MinHash
    pairs -> connected components -> canonical longest doc per cluster)
    -> deterministic 80/10/10 split -> per-(split, lang) rollup, all
    one declarative plan. Complements `curation_pipeline`, whose dedup
    is exact (content-sha): this is the pipeline shape when duplicates
    are fuzzy. The oracle recomputes the whole chain from the exact
    all-pairs transitive closure in DuckDB."""
    from .operators.sampling import hash_split

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    clusters = CC.near_dup_clusters(
        docs, "doc_id", "text", threshold=0.8, n_perm=16, bands=16, k=1
    )
    kept = CC.canonical_docs(docs, clusters, "doc_id", "n_chars")
    split = hash_split(kept, "doc_id", _SPLIT_WEIGHTS)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _o_near_dup_pipeline() -> str:
    from .operators.sampling import split_case_sql

    case = split_case_sql("doc_id", _SPLIT_WEIGHTS)
    return f"""
WITH RECURSIVE
{_O_CC_WALK},
 j AS (
  SELECT c.cluster_id, d.doc_id, d.lang, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM comp c JOIN documents d USING (doc_id)
 ),
 kept AS (SELECT * FROM j WHERE rn = 1)
SELECT {case} AS split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY split, lang
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return SIM.cosine_topk(corpus, queries, "vec_id", "embedding", k=5)


O_COSINE_TOPK = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
     v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
     s AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[])
           AS raw_score
  FROM q, v
)
SELECT query_id, neighbor_id, round(raw_score, 6) AS score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY raw_score DESC, neighbor_id) AS INT)
         AS rank
FROM s
QUALIFY rank <= 5
"""


def _embedding_dim(sf: str) -> int:
    """Vector dimensionality from ONE parquet page (pyarrow, driver-side
    metadata I/O independent of table size — replaces a Spark `.first()`
    job; the arrow type is a plain list so the footer alone lacks dim)."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(os.path.join(sf, "embeddings.parquet"))
    batch = next(f.iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column("embedding")[0])


def q_ann_lsh_topk(spark, sf):  # no SQL oracle: LSH bucketing
    """Rows-only by design: on THIS testdata (uniform random vectors,
    near-isotropic — no planted neighborhood geometry) hyperplane-LSH
    recall tops out ~0.2 even probing all 1-bit flips (measured at
    sf0.001/sf0.01, multiprobe 2-6), so no multiprobe setting reaches
    exact brute-force agreement; recall is asserted on planted-cluster
    data in tests instead (test_ann_lsh_recall_vs_brute_force), and
    the lossless-machinery proof is `ivf_ann_topk_full` below."""
    emb = _t(spark, sf, "embeddings")
    dim = _embedding_dim(sf)
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return SIM.ann_lsh_topk(corpus, queries, dim, k=5, n_planes=6, multiprobe=2)


def q_ivf_ann_topk(spark, sf):  # no SQL oracle: IVF cell assignment
    """IVF ANN: 16-cell coarse quantizer trained with 2 Lloyd steps as
    DataFrame aggregations, queries probe their 4 nearest cells."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = SIM.train_centroids(corpus, n_cells=16, iters=2)
    return SIM.ivf_ann_topk(corpus, queries, cents, k=5, nprobe=4)


def q_ivf_ann_topk_full(spark, sf):
    """IVF with nprobe == n_cells: probing every cell makes the search
    exhaustive, so the result must equal brute-force cosine top-k
    EXACTLY — an oracle-checked proof that the IVF machinery
    (centroid assignment, cell equi-join, scoring, ranking) is
    lossless; only cell *pruning* (nprobe < cells, the rows-only
    `ivf_ann_topk` above) trades recall for speed."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = SIM.train_centroids(corpus, n_cells=16, iters=2)
    return SIM.ivf_ann_topk(corpus, queries, cents, k=5, nprobe=16)


def q_embedding_norms(spark, sf):
    emb = _t(spark, sf, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding").cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return emb.groupBy("label").agg(
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def _planted_near_dup_corpus(spark, sf):
    """The synthetic embeddings are isotropic (max pairwise cosine ~0.51
    at sf0.01), so near-dup operators are exercised on a corpus with
    DETERMINISTICALLY PLANTED near-duplicates: for each base vector a
    (vec_id < 200), a perturbed copy id+1000 = a + 0.15 * partner where
    partner = (a+137) % 200. cosine(copy, a) ~ 0.99 while every
    unplanted pair stays < 0.45 — a wide margin for threshold 0.95.
    The same construction is expressed in the DuckDB oracle."""
    e = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    partner = e.select(
        F.col("vec_id").alias("_pid"), F.col("v").alias("_pv")
    )
    pert = (
        e.join(
            F.broadcast(partner),
            (F.col("vec_id") + 137) % 200 == F.col("_pid"),
        )
        .select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.zip_with("v", "_pv", lambda x, y: x + 0.15 * y).alias("v"),
        )
    )
    return e.unionByName(pert)


def q_embedding_near_dup(spark, sf):
    corpus = _planted_near_dup_corpus(spark, sf)
    return SIM.cosine_near_dup_pairs(
        corpus, id_col="vec_id", vec_col="v", threshold=0.95
    )


O_EMBEDDING_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 200),
pert AS (
  SELECT a.vec_id + 1000 AS vec_id,
         list_transform(list_zip(a.v, b.v), x -> x[1] + 0.15 * x[2]) AS v
  FROM e a JOIN e b ON b.vec_id = (a.vec_id + 137) % 200),
corpus AS (SELECT * FROM e UNION ALL SELECT * FROM pert)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS score
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
"""


def q_embedding_near_dup_lsh(spark, sf):
    """Banded-LSH near-dup (the scale path) on the same planted corpus.
    Candidates are exactly verified, so precision is exact; with 12
    bands x 4 planes the per-pair miss probability at cos>=0.95 is
    <1e-4, and on this fixed corpus+seed recall is exactly 100%
    (asserted vs the brute-force kernel in tests) — hence it shares the
    brute-force oracle."""
    corpus = _planted_near_dup_corpus(spark, sf)
    return SIM.cosine_near_dup_lsh(
        corpus,
        dim=_embedding_dim(sf),
        id_col="vec_id",
        vec_col="v",
        threshold=0.95,
    )


O_EMBEDDING_NORMS = """
SELECT label,
       round(avg(sqrt(list_aggregate(
         list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 6)
         AS avg_norm,
       count(*) AS n_vecs
FROM embeddings GROUP BY label
"""


# ---------------------------------------------------------------------------
# approx / multimodal / CDC demo (rows-only checks)
# ---------------------------------------------------------------------------

def q_approx_distinct_users(spark, sf):  # approx sketch: no cross-engine oracle
    return _t(spark, sf, "events").groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


def q_media_features(spark, sf):
    """Real multimodal decode round-trip: synthesize_media writes actual
    BMP / WAV / Y4M containers whose parameters are closed forms of
    media_id; extract_features parses the real bytes (numpy
    header/chunk/frame walk) to recover dimensions, mean luma, duration
    and RMS; the oracle recomputes every feature from the closed forms
    — so all three decoders are checked through the file format,
    independent of the writer. No fake decode path remains."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    media = MM.synthesize_media(docs)
    return MM.extract_features(media, feature_dim=8).select(
        "media_id", "kind", "n_bytes", "width", "height",
        "duration_ms", "rms", "luma_milli",
    )


# Mirrors the synthesis closed forms in operators/multimodal.py (module
# header there documents them; change both together).
O_MEDIA_FEATURES = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 3 AS k,
         2 * (16 + doc_id % 32) AS vw,      -- video closed forms
         2 * (8 + doc_id % 16) AS vh,
         2 + doc_id % 6 AS vn
  FROM documents WHERE doc_id < 100
)
SELECT media_id,
  CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE k
    WHEN 0 THEN 54 + (((3 * (16 + media_id % 64) + 3) // 4) * 4)
                     * (16 + media_id % 48)
    WHEN 1 THEN 44 + 2 * (400 + (media_id % 1200) * 16)
    -- Y4M: header "YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 C420jpeg\\n"
    -- (37 bytes + the W/H digit counts), then per frame
    -- "FRAME\\n" (6) + planar 4:2:0 payload (3*w*h/2)
    ELSE 37 + length(CAST(vw AS VARCHAR)) + length(CAST(vh AS VARCHAR))
         + vn * (6 + (3 * vw * vh) // 2) END AS INTEGER) AS n_bytes,
  CAST(CASE WHEN k = 0 THEN 16 + media_id % 64
            WHEN k = 2 THEN vw END AS INTEGER) AS width,
  CAST(CASE WHEN k = 0 THEN 16 + media_id % 48
            WHEN k = 2 THEN vh END AS INTEGER) AS height,
  CAST(CASE WHEN k = 1 THEN 25 + media_id % 1200
            WHEN k = 2 THEN vn * 40 END AS INTEGER) AS duration_ms,
  CAST(CASE WHEN k = 1 THEN 1000 + media_id % 20000 END AS DOUBLE) AS rms,
  CAST(CASE WHEN k = 0 THEN 299 * (media_id % 256)
       + 587 * ((media_id * 7) % 256)
       + 114 * ((media_id * 13) % 256)
       -- clip luma: floor(1000 * sum(frame Y) / n_frames); frame f
       -- has constant Y = (id*11 + f*17) % 236 + 16
       WHEN k = 2 THEN (1000 * list_sum(list_transform(
           range(vn), f -> (media_id * 11 + f * 17) % 236 + 16
       ))) // vn END AS BIGINT) AS luma_milli
FROM m
"""


def q_video_frames(spark, sf):
    """Real video frame sampling: decode each synthesized Y4M container
    once in the kernel and emit the frame actually at each 50 ms
    offset, with its exact integer mean luma. The oracle recomputes
    frame index (floor(ms*fps/1000)) and per-frame luma from the
    synthesis closed forms — the kernel is checked through the real
    container bytes. (frame_sha is also emitted by the operator but is
    not SQL-recomputable, so the query projects the checkable
    columns.)"""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    media = MM.synthesize_media(docs)
    return MM.sample_frames(media, every_ms=50).select(
        "media_id", "frame_ms", "frame_idx", "frame_luma_milli",
    )


# Mirrors _y4m_params/_y4m_frame_y closed forms (25 fps -> 40 ms/frame).
O_VIDEO_FRAMES = """
WITH v AS (
  SELECT doc_id AS media_id, 2 + doc_id % 6 AS vn
  FROM documents WHERE doc_id < 100 AND doc_id % 3 = 2
), s AS (
  SELECT media_id, vn, unnest(range(0, vn * 40, 50)) AS ms FROM v
)
SELECT media_id,
  CAST(ms AS INTEGER) AS frame_ms,
  CAST(ms // 40 AS INTEGER) AS frame_idx,
  CAST(1000 * ((media_id * 11 + (ms // 40) * 17) % 236 + 16) AS BIGINT)
    AS frame_luma_milli
FROM s
"""


def q_cdc_replay_sql(spark, sf):
    """The flagship CDC engine under a DRIVER-CHECKABLE oracle: a replay
    restricted to SQL-expressible semantics — upserts + deletes with
    at-least-once duplicate delivery and out-of-order arrival across
    micro-batches (no renames/DDL). The change set is derived
    deterministically from the `events` table, pushed through the REAL
    pipeline (streaming foreachBatch -> parse -> LSN-guarded merge_into),
    and the final lake state must equal DuckDB's sequential replay:
    `QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY lsn
    DESC) = 1 ... WHERE op != 'd'` — the reference's ON-CONFLICT LWW
    rule (db.py:249-269)."""
    import base64
    import json as _json
    import os
    import tempfile
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .cdc.pipeline import CdcPipeline
    from .lake.table import LakeTable
    from .schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    ids = pq.read_table(
        os.path.join(sf, "events.parquet"), columns=["event_id"]
    )["event_id"].to_pylist()
    ids = sorted(e for e in set(ids) if e < 4000)

    N_FILES = 4
    rows: dict[int, list] = {i: [] for i in range(N_FILES)}

    def emit(e: int, fidx: int) -> None:
        repo, path = f"r{e % 17}", f"p{(e * 7) % 101}"
        if e % 11 == 0:
            rows[fidx].append((e, e, "d", "file_delete", repo, path, None))
            return
        content = f"content-{e % 5}-{e}"
        payload = _json.dumps(
            {
                "commit": f"c{e}",
                "lang": "py",
                "content_z": base64.b64encode(
                    zlib.compress(content.encode(), 1)
                ).decode(),
                "size_scale": 0,
                "size_value": base64.b64encode(
                    len(content).to_bytes(4, "big", signed=True)
                ).decode(),
            },
            separators=(",", ":"),
        )
        rows[fidx].append((e, e, "u", "file_upsert", repo, path, payload))

    for e in ids:
        # file = arrival micro-batch: e % N_FILES interleaves LSNs across
        # batches, so later batches carry OLDER lsns for already-merged
        # keys (the strict LWW guard must reject them)
        emit(e, e % N_FILES)
        if e % 13 == 0:  # at-least-once duplicate, delivered a batch later
            emit(e, (e + 1) % N_FILES)

    work = tempfile.mkdtemp(prefix="cdc_sql_")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    t0 = 1_700_000_000
    for fi in range(N_FILES):
        rs = rows[fi]
        tbl = pa.table(
            {
                "lsn": pa.array([r[0] for r in rs], pa.int64()),
                "ts_ms": pa.array([r[1] for r in rs], pa.int64()),
                "op": pa.array([r[2] for r in rs], pa.string()),
                "event_type": pa.array([r[3] for r in rs], pa.string()),
                "repo": pa.array([r[4] for r in rs], pa.string()),
                "path": pa.array([r[5] for r in rs], pa.string()),
                "payload": pa.array([r[6] for r in rs], pa.string()),
            }
        )
        fp = os.path.join(log_dir, f"chunk-{fi:05d}.parquet")
        pq.write_table(tbl, fp)
        os.utime(fp, (t0 + fi, t0 + fi))

    table = LakeTable.create(
        spark, os.path.join(work, "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=8,
    )
    CdcPipeline(
        spark, table, log_dir, os.path.join(work, "cp"),
        max_files_per_trigger=1,
    ).run_streaming()
    return table.read().select(
        "repo", "path", "lsn", "commit", "lang", "content", "size_bytes"
    )


O_CDC_REPLAY_SQL = """
WITH ch AS (
  SELECT DISTINCT event_id AS e FROM events WHERE event_id < 4000
), final AS (
  SELECT 'r' || CAST(e % 17 AS VARCHAR) AS repo,
         'p' || CAST((e * 7) % 101 AS VARCHAR) AS path,
         e AS lsn,
         CASE WHEN e % 11 = 0 THEN 'd' ELSE 'u' END AS op,
         'c' || CAST(e AS VARCHAR) AS commit,
         'content-' || CAST(e % 5 AS VARCHAR) || '-' || CAST(e AS VARCHAR)
           AS content
  FROM ch
  QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) = 1
)
SELECT repo, path, lsn, commit, 'py' AS lang, content,
       CAST(length(content) AS INT) AS size_bytes
FROM final WHERE op != 'd'
"""


def q_top_tvl_tokens(spark, sf):
    """The reference's top-tokens-by-TVL datamart (README.md:253-257:
    dex_pool_link JOIN dex_pool GROUP BY jetton ORDER BY tvl LIMIT 10)
    run against CONTINUOUSLY MAINTAINED tables: a deterministic
    trade+metadata change log derived from `events` is pushed through
    the real streaming pipeline (silver fan-out -> incremental
    GoldAssetTvl maintenance by affected assets), then the top-k join
    runs over the maintained gold + metadata tables. Driver-checkable:
    prices use scale 0, so every double sum is integer-valued and
    exact in BOTH engines (no FP-order hazard in the value hash)."""
    import base64
    import json as _json
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .cdc.pipeline import CdcPipeline
    from .cdc.silver import SilverFanout
    from .gold import GoldAssetTvl
    from .lake.table import LakeTable
    from .schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    ids = pq.read_table(
        os.path.join(sf, "events.parquet"), columns=["event_id"]
    )["event_id"].to_pylist()
    ids = sorted(e for e in set(ids) if e < 3000)

    def b64int(v: int, nbytes: int) -> str:
        return base64.b64encode(v.to_bytes(nbytes, "big", signed=True)).decode()

    N_FILES = 4
    rows: dict[int, list] = {i: [] for i in range(N_FILES)}
    for e in ids:
        repo = f"r{e % 13}"
        if e % 5 == 0:
            payload = _json.dumps(
                {
                    "name": f"tok_{e % 13}",
                    "symbol": f"S{e % 7}",
                    "sources_csv": ",".join(f"s{e % 3}" for _ in range(6)),
                },
                separators=(",", ":"),
            )
            kind, op = "metadata_event", "u"
        else:
            payload = _json.dumps(
                {
                    "asset": repo,
                    "side": "buy" if e % 2 == 0 else "sell",
                    "amount_scale": 0,
                    "amount_value": b64int((e % 997) + 1, 4),
                    "price_scale": 0,
                    "price_value": b64int(((e * 13) % 4999) + 1, 4),
                },
                separators=(",", ":"),
            )
            kind, op = "trade_event", "c"
        # e % N_FILES interleaves LSNs across arrival micro-batches:
        # later batches carry older metadata lsns (the LWW guard must
        # reject them) and the gold recompute sees assets repeatedly
        rows[e % N_FILES].append((e, e, op, kind, repo, payload))

    work = tempfile.mkdtemp(prefix="tvl_")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    t0 = 1_700_000_000
    for fi in range(N_FILES):
        rs = rows[fi]
        tbl = pa.table(
            {
                "lsn": pa.array([r[0] for r in rs], pa.int64()),
                "ts_ms": pa.array([r[1] * 1000 for r in rs], pa.int64()),
                "op": pa.array([r[2] for r in rs], pa.string()),
                "event_type": pa.array([r[3] for r in rs], pa.string()),
                "repo": pa.array([r[4] for r in rs], pa.string()),
                "path": pa.array(["-" for _ in rs], pa.string()),
                "payload": pa.array([r[5] for r in rs], pa.string()),
            }
        )
        fp = os.path.join(log_dir, f"chunk-{fi:05d}.parquet")
        pq.write_table(tbl, fp)
        os.utime(fp, (t0 + fi, t0 + fi))

    table = LakeTable.create(
        spark, os.path.join(work, "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=8,
    )
    fanout = SilverFanout(spark, os.path.join(work, "silver"))
    tvl = GoldAssetTvl(spark, os.path.join(work, "gold_tvl"), fanout.tables["trades"])
    CdcPipeline(
        spark, table, log_dir, os.path.join(work, "cp"),
        max_files_per_trigger=1, fanout=fanout, gold=[tvl],
    ).run_streaming()
    return tvl.top_tokens(fanout.tables["metadata"], k=10)


O_TOP_TVL_TOKENS = """
WITH ch AS (
  SELECT DISTINCT event_id AS e FROM events WHERE event_id < 3000
), tvl AS (
  SELECT 'r' || CAST(e % 13 AS VARCHAR) AS asset,
         CAST(SUM(((e % 997) + 1) * (((e * 13) % 4999) + 1)) AS DOUBLE) AS tvl
  FROM ch WHERE e % 5 != 0 GROUP BY 1
), md AS (
  SELECT 'r' || CAST(e % 13 AS VARCHAR) AS repo,
         'S' || CAST(e % 7 AS VARCHAR) AS symbol
  FROM ch WHERE e % 5 = 0
  QUALIFY row_number() OVER (PARTITION BY repo ORDER BY e DESC) = 1
)
SELECT symbol, CAST(SUM(tvl) AS DOUBLE) AS total_tvl
FROM tvl JOIN md ON tvl.asset = md.repo
WHERE tvl > 0
GROUP BY symbol ORDER BY total_tvl DESC, symbol LIMIT 10
"""


def q_cdc_replay_demo(spark, sf):  # the engine itself, small replay
    import tempfile

    from .cdc.pipeline import CdcPipeline
    from .datagen import GenParams, generate_event_log
    from .lake.table import LakeTable
    from .schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    work = tempfile.mkdtemp(prefix="cdc_demo_")
    generate_event_log(
        f"{work}/events", GenParams(n_events=1500, n_repos=10, n_files=3)
    )
    table = LakeTable.create(
        spark, f"{work}/lake", REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn",
        bucket_count=8,
    )
    CdcPipeline(spark, table, f"{work}/events", f"{work}/cp").run_batch()
    return table.read().select(
        "repo", "path", "lsn", F.sha2("content", 256).alias("content_sha"),
        "size_bytes",
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_hash_sample(spark, sf):
    """Deterministic 20% corpus sample: keep iff the leading 32 bits of
    sha256(salt || doc_id) fall under floor(0.2 * 2^32). Reproducible,
    partitioning-independent, engine-portable (the oracle runs the
    byte-identical predicate in DuckDB) — the sampling contract a
    training pipeline needs for auditable subsets. Pure codegen'd
    column expressions, zero shuffles: sampling 100 TB is a filter."""
    from .operators.sampling import hash_sample

    return hash_sample(
        _t(spark, sf, "documents"), "doc_id", 0.2, salt="sample-v1"
    ).select("doc_id", "lang")


def _o_hash_sample() -> str:
    from .operators.sampling import threshold_hex

    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(sha256(concat('sample-v1', CAST(doc_id AS VARCHAR))), 1, 8)
      < '{threshold_hex(0.2)}'
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_counts(spark, sf):
    """Hash-bucketed train/val/test split (80/10/10 by doc_id, salt
    'split-v1'): disjoint, exhaustive, stable forever under the same
    salt — no split leakage across reruns. Aggregated per (split, lang)
    so the oracle checks every row's assignment without emitting the
    corpus."""
    from .operators.sampling import hash_split

    docs = hash_split(_t(spark, sf, "documents"), "doc_id", _SPLIT_WEIGHTS)
    return docs.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _o_split_counts() -> str:
    from .operators.sampling import split_case_sql

    case = split_case_sql("doc_id", _SPLIT_WEIGHTS)
    return f"""
SELECT {case} AS split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY split, lang
"""


def q_stratified_sample(spark, sf):
    """Deterministic k-per-stratum sample: per (lang, source) keep the
    3 docs with smallest sha256('strat-v1' || doc_id) — the exact
    per-group count fraction sampling can't give on skewed strata
    (balanced eval sets). One window shuffle on the strata columns;
    the oracle is the byte-identical QUALIFY in DuckDB."""
    from .operators.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    return stratified_sample(docs, ["lang", "source"], "doc_id", k=3).select(
        "doc_id", "lang", "source", "n_chars"
    )


O_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source, n_chars FROM documents
QUALIFY row_number() OVER (
  PARTITION BY lang, source
  ORDER BY sha256(concat('strat-v1', CAST(doc_id AS VARCHAR))), doc_id
) <= 3
"""


def q_value_percentiles(spark, sf):
    """Per-type latency/value profile: exact p50/p90/p99 (Spark
    `percentile` = linear interpolation, the same contract as DuckDB
    `quantile_cont`, so the oracle matches bit-for-bit after the
    shared 6-decimal rounding discipline). Exact percentiles sort each
    group — fine for a bounded metrics mart; at 100 TB the one-pass
    path is `percentile_approx` (KLL-style sketch, bounded memory per
    group), same query shape, engine-specific values (no oracle)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


O_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY event_type
"""


_CURATE_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_curation_pipeline(spark, sf):
    """The corpus-curation flagship in ONE declarative plan: quality
    filter -> exact dedup (canonical representative = min doc_id per
    content sha) -> deterministic train/val/test split -> per-split
    rollup. Every stage is an already-oracle-proven kernel (quality =
    text_analyze's composite, dedup = exact_dup_groups' sha2 grouping,
    split = hash_split), composed the way a training-data pipeline
    would run them. Scale shape: one scan, the quality filter runs at
    the scan before anything shuffles, dedup + rollup are the only two
    shuffles, zero Python."""
    from pyspark.sql import Window

    from .operators.sampling import hash_split
    from .operators.text import quality_score, token_count

    scored = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
            F.sha2(F.col("text"), 256).alias("content_sha"),
        )
        .filter(F.col("quality") >= 0.5)
    )
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    canon = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # quality is 6dp-rounded, so sum it as FIXED-POINT integers: a
    # double sum is order-dependent (1-ulp ties flip the 6th decimal
    # between engines/partitionings); the integer sum is exact and
    # associative, making the average deterministic at ANY parallelism
    q6 = F.round(F.col("quality") * 1e6, 0).cast("long")
    return (
        hash_split(canon, "doc_id", _CURATE_WEIGHTS, salt="curate-v1")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(
                F.sum(q6) / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
            ).alias("avg_quality"),
        )
    )


def _o_curation_pipeline() -> str:
    from .operators.sampling import split_case_sql

    case = split_case_sql("doc_id", _CURATE_WEIGHTS, salt="curate-v1")
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         regexp_split_to_array(trim(text), '\\s+') AS wtoks
  FROM documents
), m AS (
  SELECT doc_id, lang, len(wtoks) AS n_tokens,
    round(0.5 * least(len(wtoks) / 100.0, 1.0)
      + 0.3 * least((len(list_filter(toks, x -> x IN ({_SW})))
                     / greatest(len(toks), 1)) * 5, 1.0)
      + 0.2 * (1 - least(((length(text)
                - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')))
                / greatest(length(text), 1)) * 4, 1.0)), 6) AS quality,
    sha256(text) AS content_sha
  FROM t
), kept AS (
  SELECT * FROM m WHERE quality >= 0.5
), canon AS (
  SELECT * FROM kept
  QUALIFY row_number() OVER (PARTITION BY content_sha ORDER BY doc_id) = 1
)
SELECT {case} AS split, lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(sum(CAST(round(quality * 1000000) AS BIGINT))
             / (count(*) * 1000000.0), 6) AS avg_quality
FROM canon GROUP BY split, lang
"""


def q_repetition_metrics(spark, sf):
    """Gopher-style repetition quality signals over the corpus (dup-word
    fraction, most-frequent word/bigram share) — pure higher-order
    column expressions, zero Python, zero shuffles."""
    from .operators.text import repetition_metrics

    return repetition_metrics(_t(spark, sf, "documents"), "doc_id", "text")


O_REPETITION_METRICS = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bg
  FROM t
), m AS (
  SELECT doc_id,
    CAST(n AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
    CAST(coalesce(list_max(list_transform(list_distinct(toks),
         w -> len(list_filter(toks, x -> x = w)))), 0) AS BIGINT)
      AS top_word_count,
    CAST(coalesce(list_max(list_transform(list_distinct(bg),
         w -> len(list_filter(bg, x -> x = w)))), 0) AS BIGINT)
      AS top_bigram_count
  FROM g
)
SELECT doc_id, n_tokens, n_distinct, top_word_count, top_bigram_count,
  round(1 - n_distinct / greatest(n_tokens, 1), 6) AS dup_word_frac,
  round(top_word_count / greatest(n_tokens, 1), 6) AS top_word_frac,
  round(2 * top_bigram_count / greatest(n_tokens, 1), 6) AS top_bigram_frac
FROM m
"""


def q_sequence_packing(spark, sf):
    """Concat-and-chunk sequence packing of the corpus into 512-token
    context windows, 8 shards: per-doc token intervals. One shuffle
    (shard key); the per-shard running sum is the scale-correct
    rendering of the naive global cumsum (single-partition bottleneck
    at 100 TB)."""
    from .operators.packing import pack_sequences
    from .operators.text import token_count

    docs = _t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, ctx_len=512, n_shards=8)


_O_PACK_BASE = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), p AS (
  SELECT shard, doc_id, n_tokens,
         -- CAST: DuckDB widens integer window-SUM to HUGEINT
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS begin_offset
  FROM d
)
"""

O_SEQUENCE_PACKING = _O_PACK_BASE + """
SELECT shard, doc_id, n_tokens, begin_offset,
  CAST(floor(begin_offset / 512.0) AS BIGINT) AS first_seq,
  CAST(floor((begin_offset + greatest(n_tokens - 1, 0)) / 512.0) AS BIGINT)
    AS last_seq,
  CAST(floor((begin_offset + greatest(n_tokens - 1, 0)) / 512.0)
       - floor(begin_offset / 512.0) + 1 AS BIGINT) AS n_seqs
FROM p
"""


def q_packing_manifest(spark, sf):
    """Per-shard packing summary (docs, tokens, full 512-token windows,
    tail remainder) — second-stage agg reusing the shard partitioning."""
    from .operators.packing import pack_sequences, shard_manifest
    from .operators.text import token_count

    docs = _t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return shard_manifest(pack_sequences(docs, ctx_len=512, n_shards=8), 512)


O_PACKING_MANIFEST = """
WITH d AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), s AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM d GROUP BY shard
)
SELECT shard, n_docs, total_tokens,
  CAST(floor(total_tokens / 512.0) AS BIGINT) AS n_full_seqs,
  CAST(total_tokens % 512 AS BIGINT) AS tail_tokens
FROM s
"""


def q_decontamination(spark, sf):
    """Train/eval leakage check (GPT-3-style n-gram decontamination):
    for every val/test doc of the standard 80/10/10 hash split, the
    fraction of its distinct 5-gram shingles that appear anywhere in
    the train split. One shuffle on the shingle key (train side
    distinct'ed map-side), one doc-keyed agg — text never shuffles."""
    from .operators.decontam import decontaminate
    from .operators.sampling import hash_split

    docs = hash_split(_t(spark, sf, "documents"), "doc_id", _SPLIT_WEIGHTS)
    return decontaminate(docs, "doc_id", "text", ngram=5, threshold=0.3)


def _o_decontamination() -> str:
    from .operators.sampling import split_case_sql

    case = split_case_sql("doc_id", _SPLIT_WEIGHTS)
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(5))
    return f"""
WITH t AS (
  SELECT doc_id, {case} AS split,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, split,
         list_distinct(list_transform(range(1, len(toks) - 3),
                                      i -> {gram})) AS shs
  FROM t
), train AS (
  SELECT DISTINCT s AS shingle FROM sh, unnest(shs) AS u(s)
  WHERE split = 'train'
), ev AS (
  SELECT doc_id, split, CAST(len(shs) AS BIGINT) AS n_shingles, shs
  FROM sh WHERE split <> 'train'
), hits AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM (SELECT doc_id, s FROM ev, unnest(shs) AS u(s)) e
  JOIN train ON e.s = train.shingle
  GROUP BY e.doc_id
)
SELECT ev.doc_id, split, n_shingles,
  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
  round(coalesce(n_hit, 0) / greatest(n_shingles, 1), 6) AS contam_frac,
  CAST(coalesce(n_hit, 0) / greatest(n_shingles, 1) >= 0.3 AS INTEGER)
    AS is_contaminated
FROM ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
"""


_MIX_WEIGHTS = {"en": 50, "de": 15, "es": 15, "fr": 10, "zh": 10}


def q_corpus_mix(spark, sf):
    """Deterministic corpus mixing to target language weights
    (50/15/15/10/10 parts): the largest downsample-only corpus with the
    requested proportions, each group keeping its quota docs with the
    smallest sha256('mix-v1' || doc_id). Quota arithmetic is all-BIGINT
    (no float rounding edge); output is the per-group audit manifest
    with an id-sum checksum of the kept set."""
    from .operators.mixing import mix_manifest

    return mix_manifest(
        _t(spark, sf, "documents"), "lang", "doc_id", _MIX_WEIGHTS
    )


def _o_corpus_mix() -> str:
    total = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())
    return f"""
WITH w(lang, parts) AS (VALUES {vals}),
c AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_total,
         CAST(parts AS BIGINT) AS parts
  FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang, parts
),
t AS (SELECT min((n_total * {total}) // parts) AS t_max FROM c),
q AS (
  SELECT lang, n_total, CAST((t_max * parts) // {total} AS BIGINT) AS quota
  FROM c, t
),
r AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (PARTITION BY d.lang
             ORDER BY sha256(concat('mix-v1', CAST(d.doc_id AS VARCHAR))),
                      d.doc_id) AS rn
  FROM documents d JOIN w ON d.lang = w.lang
),
k AS (
  SELECT r.lang, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(doc_id) AS BIGINT) AS sum_ids
  FROM r JOIN q ON r.lang = q.lang WHERE rn <= quota GROUP BY r.lang
)
SELECT q.lang, n_total, quota,
  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
  CAST(coalesce(sum_ids, 0) AS BIGINT) AS sum_ids
FROM q LEFT JOIN k ON q.lang = k.lang
"""


def q_vocab_topk(spark, sf):
    """Global token-frequency top-15 (vocab-building precursor):
    explode -> map-side-combined hash agg -> TakeOrderedAndProject
    top-k; ties broken by token for a deterministic set."""
    from .operators.vocab import vocab_topk

    return vocab_topk(_t(spark, sf, "documents"), "text", k=15)


O_VOCAB_TOPK = r"""
SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
) WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 15
"""


def q_salient_terms(spark, sf):
    """Per-source distinctive terms: top-3 tokens by in-source count
    (ties by token), with global document frequency attached —
    integer-only TF-IDF stand-in, hash-stable by construction."""
    from .operators.vocab import source_salient_terms

    return source_salient_terms(
        _t(spark, sf, "documents"), "source", "text", k=3
    )


O_SALIENT_TERMS = r"""
WITH tf AS (
  SELECT source AS grp, tok, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY source, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
), ranked AS (
  SELECT grp, tf.tok, tf, df,
         row_number() OVER (PARTITION BY grp
                            ORDER BY tf DESC, tf.tok) AS rank
  FROM tf JOIN dfreq ON tf.tok = dfreq.tok
)
SELECT grp, tok, tf, df, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_length_histogram(spark, sf):
    """Fixed-width (500-char) doc-length histogram per language: pure
    hash agg, BIGINT floor-div buckets."""
    from .operators.vocab import length_histogram

    return length_histogram(
        _t(spark, sf, "documents"), "n_chars", 500, ["lang"]
    )


O_LENGTH_HISTOGRAM = """
SELECT lang, CAST(n_chars // 500 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_len
FROM documents GROUP BY 1, 2
"""


def q_lm_quality(spark, sf):
    """CCNet-style n-gram LM quality scoring (Wenzek et al. 2020),
    quantized to whole-bit Shannon cost so the score is integer-exact
    and identical at any parallelism: train a word-bigram model on the
    doc_id%10<3 reference slice, charge every document
    bitlen(V)-bitlen(cnt) bits per seen bigram (bitlen(V)+1 for OOV),
    report total and avg bits/gram (low = reference-like = keep).
    One explode+groupBy to train, one gram join + one doc groupBy to
    score — zero Python, zero floating point before the final
    display division. See operators/lm.py."""
    from .operators.lm import lm_bitcost, train_ngram_lm

    docs = _t(spark, sf, "documents")
    model = train_ngram_lm(
        docs.filter(F.col("doc_id") % 10 < 3), "doc_id", "text", n=2
    )
    return lm_bitcost(docs, "doc_id", "text", model, n=2)


O_LM_QUALITY = r"""
WITH tok AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1]
                 for i in generate_series(1, len(toks)-1)]) AS gram
  FROM tok
), model AS (
  SELECT gram, count(*) AS cnt FROM grams
  WHERE doc_id % 10 < 3 GROUP BY gram
), tot AS (
  SELECT length(printf('%b', CAST(sum(cnt) AS BIGINT))) AS vbits
  FROM model
), cost AS (
  SELECT g.doc_id,
         coalesce(t.vbits - length(printf('%b', CAST(m.cnt AS BIGINT))),
                  t.vbits + 1) AS bits
  FROM grams g LEFT JOIN model m USING (gram) CROSS JOIN tot t
), agg AS (
  SELECT doc_id, count(*) AS n_grams, sum(bits) AS total_bits
  FROM cost GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(a.total_bits, 0) AS BIGINT) AS total_bits,
       round(CAST(coalesce(a.total_bits, 0) AS BIGINT)
             / greatest(CAST(coalesce(a.n_grams, 0) AS BIGINT), 1),
             6) AS avg_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# Planted domains for the NB classification demo — the pii_report
# precedent: the synthetic corpus's lang/source labels are independent
# of the text (verified: even an exact-float NB scores ~chance on
# lang), so each engine plants an IDENTICAL deterministic domain
# marker and the comparison exercises the real subject — NB recovery
# of a content signal through the quantized bit-cost machinery.
# doc_id % 7 == 0 rows get NO marker (hard cases: soup-noise argmin).
_NB_MARKERS = [
    "aqua marine aqua marine",
    "terra firma terra firma",
    "ignis flame ignis flame",
]


def q_domain_nb(spark, sf):
    """Domain classification as quantized multinomial Naive Bayes (the
    CCNet/fastText filtering step): per-domain word-unigram bit-cost
    models trained on the doc_id%10<5 half, every held-out document
    scored under EVERY domain, argmin-bits wins (ties -> smallest
    domain). Output is the confusion matrix (actual domain, predicted,
    n_docs). Integer-only scoring — deterministic at any cluster
    size. See operators/lm.py and _NB_MARKERS above."""
    from .operators.lm import nb_classify, train_nb

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 3).cast("string"))
        .alias("domain"),
        F.when(F.col("doc_id") % 7 == 0, F.col("text")).otherwise(
            F.concat(
                F.col("text"), F.lit(" "),
                F.element_at(
                    F.array(*[F.lit(m) for m in _NB_MARKERS]),
                    (F.col("doc_id") % 3 + 1).cast("int"),
                ),
            )
        ).alias("text"),
    )
    model = train_nb(
        docs.filter(F.col("doc_id") % 10 < 5), "doc_id", "text", "domain",
        n=1,
    )
    pred = nb_classify(
        docs.filter(F.col("doc_id") % 10 >= 5), "doc_id", "text",
        model, "domain", n=1,
    )
    return (
        pred.join(docs.select("doc_id", "domain"), on="doc_id")
        .groupBy("domain", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


O_DOMAIN_NB = r"""
WITH labeled AS (
  SELECT doc_id, 'd' || CAST(doc_id % 3 AS VARCHAR) AS domain,
         CASE WHEN doc_id % 7 = 0 THEN text
              ELSE text || ' ' || (['aqua marine aqua marine',
                                    'terra firma terra firma',
                                    'ignis flame ignis flame'])[doc_id % 3 + 1]
         END AS text
  FROM documents
), tok AS (
  SELECT doc_id, domain,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS gram
  FROM labeled
), model AS (
  SELECT domain AS cls, gram, count(*) AS cnt FROM tok
  WHERE doc_id % 10 < 5 GROUP BY 1, 2
), tot AS (
  SELECT cls, length(printf('%b', CAST(sum(cnt) AS BIGINT))) AS vbits
  FROM model GROUP BY cls
), cost AS (
  SELECT m.cls, m.gram,
         t.vbits - length(printf('%b', CAST(m.cnt AS BIGINT))) AS bits
  FROM model m JOIN tot t USING (cls)
), scored AS (
  SELECT te.doc_id, c.cls,
         sum(coalesce(co.bits, t.vbits + 1)) AS total_bits
  FROM (SELECT * FROM tok WHERE doc_id % 10 >= 5) te
  CROSS JOIN (SELECT DISTINCT cls FROM model) c
  JOIN tot t ON t.cls = c.cls
  LEFT JOIN cost co ON co.cls = c.cls AND co.gram = te.gram
  GROUP BY te.doc_id, c.cls
), pred AS (
  SELECT doc_id, cls AS predicted,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY total_bits, cls) AS rn
  FROM scored
)
SELECT l.domain, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM pred p JOIN labeled l USING (doc_id)
WHERE p.rn = 1
GROUP BY 1, 2
"""


def q_interval_rollup(spark, sf):
    """Interval (range) containment join via operators/rangejoin.py:
    40 deterministic overlapping maintenance windows (4h stride,
    3-7h length over the event month) joined to every event whose
    timestamp falls in [start, end) — bucketized to an EQUI-join on
    1h time buckets + exact filter, never a nested-loop — then a
    per-window rollup. Events under overlapping windows count toward
    each (containment, not as-of). Fixed-point cent sums for
    cross-engine determinism."""
    from .operators.rangejoin import interval_join

    epoch0 = 1704067200  # 2024-01-01 UTC, the event month's origin
    wins = spark.range(40).select(
        F.col("id").alias("win_id"),
        (F.lit(epoch0) + F.col("id") * 14400).alias("start_es"),
        (F.lit(epoch0) + F.col("id") * 14400
         + (F.lit(3) + F.col("id") % 5) * 3600).alias("end_es"),
    )
    ev = _t(spark, sf, "events").select("event_id", "ts", "value")
    j = interval_join(ev, wins, "ts", "start_es", "end_es", bucket_s=3600)
    return j.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
        ).alias("sum_value"),
    )


O_INTERVAL_ROLLUP = """
WITH wins AS (
  SELECT i AS win_id,
         1704067200 + i*14400 AS s_es,
         1704067200 + i*14400 + (3 + i%5)*3600 AS e_es
  FROM range(40) t(i)
), j AS (
  SELECT w.win_id, e.value
  FROM events e JOIN wins w
    ON epoch(e.ts) >= w.s_es AND epoch(e.ts) < w.e_es
)
SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
             / 100, 2) AS sum_value
FROM j GROUP BY win_id
"""


# deterministic PII injection shared by the Spark query and the oracle:
# the corpus itself is synthetic word soup with no PII, so each engine
# plants identical spans and the comparison exercises the real subject —
# cross-engine equality of the RE2-subset scan/redact semantics down to
# the sha256 of the redacted text.
def q_pii_report(spark, sf):
    """PII scan + redaction audit: per-doc match counts per kind and
    sha256 of the redacted text. Zero shuffle, zero Python — the whole
    scan/redact is one codegen'd projection."""
    from .operators.pii import pii_report

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" call 555-867-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10."), (did % 256).cast("string"),
                    F.lit(".0."), ((did * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return pii_report(injected, "doc_id", "text2")


def _o_pii_report() -> str:
    from .operators.pii import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    return f"""
WITH inj AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
    AS text2
  FROM documents
), scanned AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text2, '{pats["email"]}')) AS BIGINT) AS n_email,
    CAST(len(regexp_extract_all(text2, '{pats["phone"]}')) AS BIGINT) AS n_phone,
    CAST(len(regexp_extract_all(text2, '{pats["ipv4"]}')) AS BIGINT) AS n_ipv4,
    regexp_replace(regexp_replace(regexp_replace(text2,
        '{pats["email"]}', '<EMAIL>', 'g'),
        '{pats["phone"]}', '<PHONE>', 'g'),
        '{pats["ipv4"]}', '<IPV4>', 'g') AS red
  FROM inj
)
SELECT doc_id, n_email, n_phone, n_ipv4,
       n_email + n_phone + n_ipv4 AS n_pii,
       sha256(red) AS redacted_sha
FROM scanned
"""


def q_span_dedup(spark, sf):
    """C4-style span-level exact dedup (fixed 5-word spans): a span
    occurrence survives iff it is the first occurrence corpus-wide by
    (doc_id, pos); documents are reassembled from surviving spans in
    original order. Output is compact and engine-portable: per-doc
    span counts plus sha256 of the reassembled text, which the DuckDB
    oracle reproduces bit-for-bit. Two shuffles (keeper window over
    the span value, groupBy doc to reassemble), zero Python."""
    from .operators.dedup import span_dedup

    return span_dedup(_t(spark, sf, "documents"), "doc_id", "text", 5)


O_SPAN_DEDUP = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(unnest(range(0, CAST(ceil(len(toks)/5.0) AS BIGINT)))
              AS BIGINT) AS pos,
         unnest([array_to_string(toks[(i*5+1):(i*5+5)], ' ')
                 for i in range(0, CAST(ceil(len(toks)/5.0) AS BIGINT))])
           AS span
  FROM t
), k AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_spans_kept,
       sha256(coalesce(
         string_agg(span, ' ' ORDER BY pos) FILTER (rn = 1), ''
       )) AS dedup_sha
FROM k GROUP BY doc_id
"""


def q_weighted_sample(spark, sf):
    """Per-row weighted Bernoulli sample: each document kept with
    probability min(1, n_chars / 400) — longer documents kept more
    often — but deterministically (hash bucket vs per-row threshold),
    so the same rows are kept on every run, partitioning, and engine.
    The quality-proportional downsampling primitive. Zero shuffles;
    the predicate is codegen'd and evaluates at the scan."""
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    return weighted_sample(docs, "doc_id", w, salt="wsample-v1").select(
        "doc_id", "lang", "n_chars"
    )


O_WEIGHTED_SAMPLE = """
SELECT doc_id, lang, n_chars FROM documents
WHERE substr(sha256(concat('wsample-v1', CAST(doc_id AS VARCHAR))), 1, 8)
      < CASE
          WHEN least(1.0, n_chars / 400.0) >= 1.0 THEN 'g'
          WHEN least(1.0, n_chars / 400.0) <= 0.0 THEN '00000000'
          ELSE lower(lpad(to_hex(CAST(floor(
                 least(1.0, n_chars / 400.0) * 4294967296.0) AS BIGINT)),
               8, '0'))
        END
"""


def q_corpus_shuffle(spark, sf):
    """Deterministic global shuffle order: every document ranked by
    sha256(salt || doc_id) — a reproducible random permutation of the
    training corpus, identical on every run, partitioning, and engine.
    Scale shape: NOT a global sort — rows bucket by the hash's leading
    byte, rank within buckets (one hash shuffle), and a 256-row offset
    table broadcast-joins the global position back."""
    from .operators.sampling import corpus_shuffle

    return corpus_shuffle(_t(spark, sf, "documents"), "doc_id")


O_CORPUS_SHUFFLE = """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY sha256(concat('shuffle-v1', CAST(doc_id AS VARCHAR))),
                  doc_id
       ) AS BIGINT) AS shuffle_pos
FROM documents
"""


def q_doc_chunks(spark, sf):
    """Sliding-window token chunking (window 8, stride 4): each
    document split into overlapping word windows for long-document
    context prep; tail windows may be shorter. Output is compact and
    engine-portable (per-chunk length + sha256), checked bit-for-bit
    by DuckDB list slicing. Zero shuffles, zero Python — chunking is
    a codegen'd projection at the scan."""
    from .operators.text import doc_chunks

    return doc_chunks(_t(spark, sf, "documents"), "doc_id", "text", 8, 4)


O_DOC_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(unnest(range(0, CAST(ceil(len(toks)/4.0) AS BIGINT)))
              AS BIGINT) AS chunk_idx,
         unnest([toks[(i*4+1):(i*4+8)]
                 for i in range(0, CAST(ceil(len(toks)/4.0) AS BIGINT))])
           AS c
  FROM t
)
SELECT doc_id, chunk_idx,
       CAST(len(c) AS BIGINT) AS chunk_len,
       sha256(array_to_string(c, ' ')) AS chunk_sha
FROM s
"""


def q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup on the planted near-dup corpus:
    clusters = the embeddings' label column (kmeans/IVF assignment at
    scale); within each cluster a vector is dropped iff a lower-id
    cluster-mate has cosine >= 0.95. Every planted perturbed copy
    (id+1000, same cluster as its base, cosine ~0.99) is dropped; all
    bases are kept. The non-recursive lower-id rule makes the result
    order-free and one ANSI EXISTS for the oracle."""
    e = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    partner = e.select(F.col("vec_id").alias("_pid"), F.col("v").alias("_pv"))
    pert = e.join(
        F.broadcast(partner),
        (F.col("vec_id") + 137) % 200 == F.col("_pid"),
    ).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        "label",
        F.zip_with("v", "_pv", lambda x, y: x + 0.15 * y).alias("v"),
    )
    corpus = e.unionByName(pert)
    out = SIM.semantic_dedup(
        corpus, id_col="vec_id", cluster_col="label", vec_col="v",
        threshold=0.95,
    )
    # is_kept as INTEGER, not BOOLEAN: the driver's hash layer is only
    # proven on int/str/float/decimal columns (HUGEINT burned r2+r3;
    # same defense as decontamination.is_contaminated)
    return out.select(
        "vec_id", "cluster", F.col("is_kept").cast("int").alias("is_kept")
    )


O_SEMANTIC_DEDUP = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 200),
pert AS (
  SELECT a.vec_id + 1000 AS vec_id, a.label,
         list_transform(list_zip(a.v, b.v), x -> x[1] + 0.15 * x[2]) AS v
  FROM e a JOIN e b ON b.vec_id = (a.vec_id + 137) % 200),
corpus AS (SELECT * FROM e UNION ALL SELECT * FROM pert)
SELECT c.vec_id, c.label AS cluster,
       CAST(NOT EXISTS (
         SELECT 1 FROM corpus d
         WHERE d.label = c.label AND d.vec_id < c.vec_id
           AND round(list_cosine_similarity(d.v, c.v), 6) >= 0.95
       ) AS INTEGER) AS is_kept
FROM corpus c
"""


def q_incremental_dedup(spark, sf):
    """Incremental exact dedup through the lake-backed DedupIndex: the
    documents table arrives as two CDC-style deltas (doc_id < 200,
    then the rest); each delta is deduplicated against EVERYTHING
    ingested before it via a bucket-aligned anti-join on content
    sha256, and the index is committed exactly-once per batch. Output:
    batch 2's novel rows — within-batch duplicates collapse to the
    smallest doc_id, cross-batch duplicates (text already seen in
    batch 1) drop. The oracle recomputes the same two-step replay in
    pure SQL."""
    import tempfile

    from .lake.dedup_index import DedupIndex

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    # the testdata has no exact text duplicates, so PLANT them
    # deterministically (same pattern as the near-dup corpora): every
    # 7th document re-arrives as doc_id + 100000 with identical text —
    # copies of batch-1 docs exercise the cross-batch drop, copies of
    # batch-2 docs the within-batch smallest-id collapse
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    idx = DedupIndex.create(
        spark, tempfile.mkdtemp(prefix="dedup_idx_"), bucket_count=4
    )
    b1 = corpus.filter(F.col("doc_id") < 200)
    idx.filter_novel(b1, "doc_id", "text", batch_id=1).count()  # ingest
    b2 = corpus.filter(F.col("doc_id") >= 200)
    novel = idx.filter_novel(b2, "doc_id", "text", batch_id=2)
    return novel.select(
        "doc_id", F.sha2(F.col("text").cast("string"), 256).alias("content_sha")
    )


def q_novel_content_feed(spark, sf):
    """End-to-end ingest-time curation: a deterministic CDC change log
    derived from `events` is replayed through the REAL streaming
    pipeline into a lake table, then `NovelContentFeed` tails that
    table's change feed one commit at a time (change feed → DedupIndex
    → idempotent sink) and materializes the FIRST occurrence of every
    distinct content. Keys are unique per event (no overwrites) and
    contents collide mod 37, so the oracle is the pure-SQL
    first-occurrence rule ordered by (arrival micro-batch, lsn) —
    copy-on-write carried-row redeliveries in the feed must be
    absorbed by the index for the row set to match."""
    import base64
    import json as _json
    import os
    import tempfile
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .cdc.curation import NovelContentFeed
    from .cdc.pipeline import CdcPipeline
    from .lake.table import LakeTable
    from .schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

    ids = pq.read_table(
        os.path.join(sf, "events.parquet"), columns=["event_id"]
    )["event_id"].to_pylist()
    ids = sorted(e for e in set(ids) if e < 2000)

    N_FILES = 4
    rows: dict[int, list] = {i: [] for i in range(N_FILES)}
    for e in ids:
        content = f"c-{e % 37}"
        payload = _json.dumps(
            {
                "commit": f"c{e}",
                "lang": "py",
                "content_z": base64.b64encode(
                    zlib.compress(content.encode(), 1)
                ).decode(),
                "size_scale": 0,
                "size_value": base64.b64encode(
                    len(content).to_bytes(4, "big", signed=True)
                ).decode(),
            },
            separators=(",", ":"),
        )
        rows[e % N_FILES].append(
            (e, e, "u", "file_upsert", f"r{e % 7}", f"p{e}", payload)
        )

    work = tempfile.mkdtemp(prefix="novel_feed_")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    t0 = 1_700_000_000
    for fi in range(N_FILES):
        rs = rows[fi]
        tbl = pa.table(
            {
                "lsn": pa.array([r[0] for r in rs], pa.int64()),
                "ts_ms": pa.array([r[1] for r in rs], pa.int64()),
                "op": pa.array([r[2] for r in rs], pa.string()),
                "event_type": pa.array([r[3] for r in rs], pa.string()),
                "repo": pa.array([r[4] for r in rs], pa.string()),
                "path": pa.array([r[5] for r in rs], pa.string()),
                "payload": pa.array([r[6] for r in rs], pa.string()),
            }
        )
        fp = os.path.join(log_dir, f"chunk-{fi:05d}.parquet")
        pq.write_table(tbl, fp)
        os.utime(fp, (t0 + fi, t0 + fi))

    table = LakeTable.create(
        spark, os.path.join(work, "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
        "lsn", bucket_count=8,
    )
    CdcPipeline(
        spark, table, log_dir, os.path.join(work, "cp"),
        max_files_per_trigger=1,
    ).run_streaming()
    feed = NovelContentFeed(
        spark, table, os.path.join(work, "feed"), bucket_count=8
    )
    feed.run()
    return feed.sink.read().select("content_sha", "repo", "path", "lsn")


O_NOVEL_CONTENT_FEED = """
WITH ch AS (
  SELECT DISTINCT event_id AS e FROM events WHERE event_id < 2000
), ev AS (
  SELECT e, 'r' || CAST(e % 7 AS VARCHAR) AS repo,
         'p' || CAST(e AS VARCHAR) AS path,
         e AS lsn, e % 4 AS batch,
         'c-' || CAST(e % 37 AS VARCHAR) AS content
  FROM ch
), firsts AS (
  SELECT *, row_number() OVER (
    PARTITION BY content ORDER BY batch, lsn) AS rn
  FROM ev
)
SELECT sha256(content) AS content_sha, repo, path, lsn
FROM firsts WHERE rn = 1
"""


def q_incremental_near_dup(spark, sf):
    """Incremental NEAR-dup dedup through the lake-backed NearDupIndex:
    the doc_id < 300 corpus (the same naturally near-dup-dense slice
    minhash_near_dup uses) arrives as two CDC-style deltas (doc_id <
    150, then the rest); each delta is near-deduplicated against every
    KEPT document before it via the persistent MinHash band index +
    exact-Jaccard verification, and the index commits exactly-once per
    batch. Output: batch 2's novel doc ids. The oracle replays the
    same two-step decision rule from the exact all-pairs Jaccard in
    pure SQL — including the subtlety that a batch-2 doc similar only
    to a DROPPED batch-1 doc stays novel."""
    import tempfile

    from .lake.neardup_index import NearDupIndex

    docs = _t(spark, sf, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 300
    )
    idx = NearDupIndex.create(
        spark, tempfile.mkdtemp(prefix="nd_idx_"), bucket_count=4,
        n_perm=16, bands=16, k=1,
    )
    # Whole-stage codegen OFF for the two tiny index batches: each
    # batch's plans are single-use (they embed fresh index file lists),
    # so the JIT compile cost is pure overhead — the same measured
    # tradeoff cdc_bench.py documents for streaming micro-batches.
    # At real delta sizes (compute-dominated) leave codegen on.
    cg = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        b1 = docs.filter(F.col("doc_id") < 150)
        # no .count(): filter_novel commits eagerly inside the call;
        # re-materializing batch 1's novel rows was a whole extra
        # pipeline execution per demo run
        idx.filter_novel(b1, "doc_id", "text", 1, corpus_text=docs)
        b2 = docs.filter(F.col("doc_id") >= 150)
        novel = idx.filter_novel(b2, "doc_id", "text", 2, corpus_text=docs)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", cg)
    return novel.select(
        "doc_id", F.sha2(F.col("text").cast("string"), 256).alias("content_sha")
    )


O_INCREMENTAL_NEAR_DUP = """
WITH s AS (
  SELECT doc_id, text,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id < 300
),
pairs AS (
  SELECT * FROM (
    SELECT a.doc_id ia, b.doc_id ib,
           round(len(list_intersect(a.toks, b.toks))
                 / len(list_distinct(a.toks || b.toks)), 6) j
    FROM s a, s b WHERE a.doc_id < b.doc_id
  ) WHERE j >= 0.8
),
kept1 AS (
  SELECT doc_id FROM s WHERE doc_id < 150
  AND doc_id NOT IN (SELECT ib FROM pairs WHERE ia < 150 AND ib < 150)
),
drop2 AS (
  SELECT p.ib AS d FROM pairs p JOIN kept1 k ON p.ia = k.doc_id
  WHERE p.ib >= 150
  UNION
  SELECT ib FROM pairs WHERE ia >= 150
)
SELECT doc_id, sha256(text) AS content_sha FROM s
WHERE doc_id >= 150 AND doc_id NOT IN (SELECT d FROM drop2)
"""


O_INCREMENTAL_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0
),
b1 AS (SELECT sha256(text) AS sha FROM corpus WHERE doc_id < 200),
b2 AS (SELECT doc_id, sha256(text) AS sha FROM corpus
       WHERE doc_id >= 200),
firsts AS (
  SELECT doc_id, sha,
         row_number() OVER (PARTITION BY sha ORDER BY doc_id) AS rn
  FROM b2
)
SELECT doc_id, sha AS content_sha FROM firsts
WHERE rn = 1 AND sha NOT IN (SELECT sha FROM b1)
"""


def q_global_cumsum(spark, sf):
    """Global running total over ALL events — the window shape Spark
    executes on one task (`SUM OVER (ORDER BY ...)` with no PARTITION
    BY = Exchange SinglePartition). Computed via the distributed
    prefix-sum decomposition in operators/prefix.py instead: quantile
    buckets + per-bucket offsets + within-bucket windows, no
    single-partition exchange anywhere (plan-shape asserted in
    tests/test_prefix.py). Fixed-point micro-units keep the sum
    bit-identical at any parallelism."""
    from .operators.prefix import bucketed_cumsum

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("_v6"),
    )
    out = bucketed_cumsum(ev, "event_id", "_v6", "_run6", buckets=32)
    return out.select(
        "event_id",
        F.round(F.col("_run6") / 1000000.0, 6).alias("running_value"),
    )


O_GLOBAL_CUMSUM = """
SELECT event_id,
       -- CAST: DuckDB widens the BIGINT window SUM to HUGEINT
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                  OVER (ORDER BY event_id) AS BIGINT)
             / 1000000.0, 6) AS running_value
FROM events
"""


def q_token_budget_mix(spark, sf):
    """Data-recipe builder: per source domain, keep the highest-quality
    documents until an 800-token budget is filled (running token total
    THROUGH the doc must fit). Per-domain running totals over a
    low-cardinality key are exactly the one-task-per-key window trap;
    operators/prefix.py splits each domain across quality-quantile
    buckets so task size is ~domain/16 (see its module docstring)."""
    from .operators.prefix import token_budget_mix

    docs = _t(spark, sf, "documents")
    return token_budget_mix(
        docs, "doc_id", "text", "source", 800, buckets=16
    )


O_TOKEN_BUDGET_MIX = f"""
WITH t AS (
  SELECT doc_id, source, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         regexp_split_to_array(trim(text), '\\s+') AS wtoks
  FROM documents
), m AS (
  SELECT doc_id, source,
    len(wtoks) AS n_tokens,
    (length(text) - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')))
          / greatest(length(text), 1) AS raw_punct,
    len(list_filter(toks, x -> x IN ({_SW})))
          / greatest(len(toks), 1) AS raw_sw
  FROM t
), q AS (
  SELECT doc_id, source, n_tokens,
    round(0.5 * least(n_tokens / 100.0, 1.0)
          + 0.3 * least(raw_sw * 5, 1.0)
          + 0.2 * (1 - least(raw_punct * 4, 1.0)), 6) AS quality
  FROM m
), c AS (
  SELECT doc_id, source, quality, n_tokens,
    -- CAST: DuckDB widens the window SUM to HUGEINT; RANGE default
    -- frame on both engines, so quality ties share one running total
    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC)
         AS BIGINT) AS cum_tokens
  FROM q
)
SELECT doc_id, source, quality, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 800
"""


def q_cumulative_users(spark, sf):
    """Cumulative unique users by first-seen day — the growth metric
    usually written `COUNT(DISTINCT user) OVER (ORDER BY day)`, which
    is both a distinct-over-window (quadratic in naive engines) and a
    single-partition global window. Scalable form: per-user min(day)
    (one shuffle), daily new-user counts (tiny agg), then the
    distributed prefix sum from operators/prefix.py over the day key —
    no single-partition exchange (plan-asserted for the operator in
    tests/test_prefix.py)."""
    from .operators.prefix import bucketed_cumsum

    ev = _t(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = firsts.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    d = daily.withColumn("_ord", F.unix_date(F.col("day")).cast("long"))
    out = bucketed_cumsum(d, "_ord", "new_users", "cum_users", buckets=16)
    return out.select("day", "new_users", "cum_users")


O_CUMULATIVE_USERS = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), d AS (
  SELECT day, count(*) AS new_users FROM f GROUP BY day
)
SELECT day, new_users,
       -- CAST: DuckDB widens the window SUM to HUGEINT
       CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
FROM d
"""


def q_cumulative_volume(spark, sf):
    """Per-event-type daily running value totals — the per-key variant
    of the distributed prefix sum (PARTITION BY a low-cardinality
    event_type ORDER BY day is one task per type in the naive window).
    Daily pre-aggregation first (tiny), fixed-point micro-units for a
    parallelism-independent sum, then bucketed_cumsum over the day key
    within each type."""
    from .operators.prefix import bucketed_cumsum

    ev = _t(spark, sf, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("_v6"),
    )
    d = daily.withColumn("_ord", F.unix_date(F.col("day")).cast("long"))
    # two running sums in ONE operator pass (shared cuts/offsets/window)
    out = bucketed_cumsum(
        d, "_ord", ["_v6", "n_events"], ["_cum6", "cum_events"],
        partition_cols=["event_type"], buckets=16,
    )
    return out.select(
        "event_type", "day", "n_events", "cum_events",
        F.round(F.col("_cum6") / 1000000.0, 6).alias("cum_value"),
    )


O_CUMULATIVE_VOLUME = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
         -- CAST: DuckDB widens integer SUMs to HUGEINT
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v6
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n_events,
       CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY day)
            AS BIGINT) AS cum_events,
       round(CAST(sum(v6) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) / 1000000.0, 6) AS cum_value
FROM d
"""


# ---------------------------------------------------------------------------
# E7: get-method VM over account states (operators/getvm.py) — the
# Spark-first analogue of the reference's TVM-emulator parsers
# ---------------------------------------------------------------------------

# Driver-authored program registry — the analogue of the reference's
# per-code-hash parser registration (jetton_wallets_recover.py:20-28).
# Two wallet code versions store the payload fields in different orders;
# dispatch happens per code_hash inside each Arrow batch.
_GETVM_REGISTRY = {
    # payload "balance|owner|master"
    "jw_v1": {
        "get_wallet_data": [
            ("push_field", 0), ("to_int",),
            ("push_field", 1),
            ("push_field", 2),
            ("push_field", 0), ("to_int",), ("push_const", 100), ("div",),
        ],
    },
    # payload "owner|balance|master"
    "jw_v2": {
        "get_wallet_data": [
            ("push_field", 1), ("to_int",),
            ("push_field", 0),
            ("push_field", 2),
            ("push_field", 1), ("to_int",), ("push_const", 100), ("div",),
        ],
    },
    # master code: payload "salt"; address derivation lives in a library
    # program so the missing-library retry path (exit 9 -> resolve ->
    # re-run, emulator.py:119-135) is exercised by the query itself
    "jm_v1": {
        "get_wallet_address": [("call_lib", "addr_derive")],
    },
}

_GETVM_LIBS = {
    "addr_derive": [("push_field", 0), ("push_arg", 0), ("concat", "|")],
}


def _wallet_states(spark, sf):
    """Deterministic jetton-wallet account states synthesized from
    `customer`: account/code_hash/data(payload). Corruption knobs —
    custkey % 97 == 0 drops the master field (VM exit 5), % 101 == 0
    writes an unparseable balance (exit 2) — exercise the NonCritical
    contract exactly where the reference hits emulator failures."""
    cust = _t(spark, sf, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("long").cast("string")
    bad_bal = F.when(F.col("c_custkey") % 101 == 0, F.lit("NaN-boc")).otherwise(bal)
    owner = F.concat(F.lit("0:"), F.col("c_custkey").cast("string"))
    master = F.concat(F.lit("m:"), F.col("c_nationkey").cast("string"))
    v1 = F.col("c_custkey") % 2 == 0
    payload = F.when(
        F.col("c_custkey") % 97 == 0,
        # truncated cell: master ref missing
        F.when(v1, F.concat_ws("|", bad_bal, owner))
        .otherwise(F.concat_ws("|", owner, bad_bal)),
    ).otherwise(
        F.when(v1, F.concat_ws("|", bad_bal, owner, master))
        .otherwise(F.concat_ws("|", owner, bad_bal, master))
    )
    return cust.select(
        F.concat(F.lit("w:"), F.col("c_custkey").cast("string")).alias("account"),
        F.when(v1, F.lit("jw_v1")).otherwise(F.lit("jw_v2")).alias("code_hash"),
        payload.alias("data"),
    )


def q_wallet_data_vm(spark, sf):
    """E7 `get_wallet_data` (reference jetton_wallets_recover.py:32):
    run the get-method VM over every wallet state, keep exit-code-0 rows
    (nonzero = NonCritical skip, emulator.py:42-46), type the stack
    outputs. Plan shape: one mapInPandas over the scan — no shuffle, no
    per-row Python; program dispatch is per code_hash within each Arrow
    batch. The oracle recomputes the same payload parse in SQL,
    including both corruption exclusions."""
    from .operators.getvm import run_get_method

    out = run_get_method(
        _wallet_states(spark, sf), _GETVM_REGISTRY, "get_wallet_data", 4
    )
    return out.filter(F.col("vm_exit_code") == 0).select(
        "account",
        F.col("out_0").cast("long").alias("balance_micro"),
        F.col("out_1").alias("owner"),
        F.col("out_2").alias("master"),
        F.col("out_3").cast("long").alias("balance_units"),
    )


O_WALLET_DATA_VM = """
SELECT 'w:' || CAST(c_custkey AS VARCHAR) AS account,
       CAST(round(c_acctbal * 100) AS BIGINT) AS balance_micro,
       '0:' || CAST(c_custkey AS VARCHAR) AS owner,
       'm:' || CAST(c_nationkey AS VARCHAR) AS master,
       CAST(floor(round(c_acctbal * 100) / 100.0) AS BIGINT) AS balance_units
FROM customer
WHERE c_custkey % 97 <> 0 AND c_custkey % 101 <> 0
"""


def q_wallet_verify_vm(spark, sf):
    """E7 anti-fake verification chain (jetton_wallets_recover.py:38-57):
    `get_wallet_data` on the wallet -> claimed master; broadcast-join the
    master's state; run the master's `get_wallet_address(owner)` through
    the VM (whose program lives in a LIBRARY, initially absent -> every
    row exits 9 -> the lib_resolver supplies it and the method re-runs,
    the vectorized twin of the reference's fetch-and-retry); a wallet is
    kept iff the master-derived address equals the wallet's own account
    address. Fakes (custkey % 89 == 0 claim a wrong master) derive a
    different address and are dropped. sha256 address derivation is
    JVM-side (F.sha2) on the VM's preimage output — the VM stays pure
    vectorized arithmetic/strings.

    Scale shape: mapInPandas (no shuffle) -> broadcast master dim ->
    mapInPandas -> column-expr compare. Wallet volume never shuffles.
    """
    from .operators.getvm import run_get_method

    nation = _t(spark, sf, "nation")
    # master states: one per nation; salt payload derives addresses
    masters = nation.select(
        F.concat(F.lit("m:"), F.col("n_nationkey").cast("string")).alias("m_account"),
        F.lit("jm_v1").alias("code_hash"),
    ).withColumn(
        "data",
        F.substring(F.sha2(F.concat(F.lit("salt:"), F.col("m_account")), 256), 1, 8),
    )

    cust = _t(spark, sf, "customer")
    owner = F.concat(F.lit("0:"), F.col("c_custkey").cast("string"))
    true_master = F.concat(F.lit("m:"), F.col("c_nationkey").cast("string"))
    claimed = F.when(
        F.col("c_custkey") % 89 == 0,
        F.concat(F.lit("m:"), ((F.col("c_nationkey") + 7) % 25).cast("string")),
    ).otherwise(true_master)
    true_salt = F.substring(
        F.sha2(F.concat(F.lit("salt:"), true_master), 256), 1, 8
    )
    wallets = cust.select(
        F.substring(
            F.sha2(F.concat_ws("|", true_salt, owner), 256), 1, 16
        ).alias("account"),
        F.lit("jw_v1").alias("code_hash"),
        F.concat_ws(
            "|", F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
            owner, claimed,
        ).alias("data"),
    )

    wd = run_get_method(
        wallets, _GETVM_REGISTRY, "get_wallet_data", 4
    ).filter(F.col("vm_exit_code") == 0).select(
        "account",
        F.col("out_0").cast("long").alias("balance_micro"),
        F.col("out_1").alias("owner"),
        F.col("out_2").alias("master"),
    )
    probe = wd.join(
        F.broadcast(masters), wd.master == masters.m_account
    ).select("account", "balance_micro", "owner", "master", "code_hash", "data")
    ga = run_get_method(
        probe, _GETVM_REGISTRY, "get_wallet_address", 1,
        arg_cols=["owner"], libs={},            # library NOT loaded yet
        lib_resolver=lambda: _GETVM_LIBS,       # exit-9 -> resolve -> retry
    )
    derived = F.substring(F.sha2(F.col("out_0"), 256), 1, 16)
    return (
        ga.filter(F.col("vm_exit_code") == 0)
        .filter(derived == F.col("account"))
        .select("account", "owner", "master", "balance_micro")
    )


O_WALLET_VERIFY_VM = """
WITH w AS (
  SELECT c_custkey,
         '0:' || CAST(c_custkey AS VARCHAR) AS owner,
         'm:' || CAST(c_nationkey AS VARCHAR) AS tm,
         CASE WHEN c_custkey % 89 = 0
              THEN 'm:' || CAST((c_nationkey + 7) % 25 AS VARCHAR)
              ELSE 'm:' || CAST(c_nationkey AS VARCHAR) END AS cm,
         CAST(round(c_acctbal * 100) AS BIGINT) AS balance_micro
  FROM customer
), x AS (
  SELECT *,
         substr(sha256('salt:' || tm), 1, 8) AS ts,
         substr(sha256('salt:' || cm), 1, 8) AS cs
  FROM w
)
SELECT substr(sha256(ts || '|' || owner), 1, 16) AS account,
       owner, cm AS master, balance_micro
FROM x
WHERE substr(sha256(cs || '|' || owner), 1, 16)
      = substr(sha256(ts || '|' || owner), 1, 16)
"""


# Registry order is deliberate: the external correctness driver checks only
# the FIRST 50 entries.  Rotation: the
# 27 queries added in round 4 that had never been driver-checked
# (split_counts .. cumulative_volume — the LLM-curation tier and the
# prefix-sum family) now occupy the front of the dict, followed by 23
# long-proven queries retained as regression canaries.  Entries past
# position 50 have all been driver-green in CORRECTNESS_r01..r04.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- round-4 tier, never driver-checked before round 5 (27) ---
    "split_counts": q_split_counts,
    "value_percentiles": q_value_percentiles,
    "curation_pipeline": q_curation_pipeline,
    "repetition_metrics": q_repetition_metrics,
    "sequence_packing": q_sequence_packing,
    "packing_manifest": q_packing_manifest,
    "decontamination": q_decontamination,
    "corpus_mix": q_corpus_mix,
    "vocab_topk": q_vocab_topk,
    "salient_terms": q_salient_terms,
    "length_histogram": q_length_histogram,
    "lm_quality": q_lm_quality,
    "domain_nb": q_domain_nb,
    "interval_rollup": q_interval_rollup,
    "pii_report": q_pii_report,
    "span_dedup": q_span_dedup,
    "weighted_sample": q_weighted_sample,
    "corpus_shuffle": q_corpus_shuffle,
    "doc_chunks": q_doc_chunks,
    "semantic_dedup": q_semantic_dedup,
    "incremental_dedup": q_incremental_dedup,
    "incremental_near_dup": q_incremental_near_dup,
    "novel_content_feed": q_novel_content_feed,
    "global_cumsum": q_global_cumsum,
    "token_budget_mix": q_token_budget_mix,
    "cumulative_users": q_cumulative_users,
    "cumulative_volume": q_cumulative_volume,
    # --- round-5 additions needing a first driver check ---
    "simhash_near_dup": q_simhash_near_dup,
    "wallet_data_vm": q_wallet_data_vm,
    "wallet_verify_vm": q_wallet_verify_vm,
    "relay_cas_export": q_relay_cas_export,
    # --- regression canaries: long-proven driver-green rows ---
    "latest_state": q_latest_state,
    "state_dedup": q_state_dedup,
    "asof_join": q_asof_join,
    "decayed_avg": q_decayed_avg,
    "daily_rollup": q_daily_rollup,
    "hourly_windows": q_hourly_windows,
    "chain_signature": q_chain_signature,
    "except_dedup": q_except_dedup,
    "union_convert": q_union_convert,
    "user_sessions": q_user_sessions,
    "parent_event": q_parent_event,
    "debezium_roundtrip": q_debezium_roundtrip,
    "trade_decimal": q_trade_decimal,
    "content_codec": q_content_codec,
    "relay_export": q_relay_export,
    "volume_rules": q_volume_rules,
    "pricing_summary": q_pricing_summary,
    "region_revenue": q_region_revenue,
    "text_analyze": q_text_analyze,
    "exact_dup_groups": q_exact_dup_groups,
    "minhash_near_dup": q_minhash_near_dup,
    "cosine_topk": q_cosine_topk,
    "ivf_ann_topk_full": q_ivf_ann_topk_full,
    # --- past the driver's 50-entry window: all driver-green r01..r04 ---
    "exclusion_antijoin": q_exclusion_antijoin,
    "running_window": q_running_window,
    "explode_props": q_explode_props,
    "csv_struct": q_csv_struct,
    "topk_orders": q_topk_orders,
    "distinct_brands": q_distinct_brands,
    "opcode_roundtrip": q_opcode_roundtrip,
    "normalize_address": q_normalize_address,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "near_dup_curation": q_near_dup_curation,
    "near_dup_pipeline": q_near_dup_pipeline,
    "stratified_sample": q_stratified_sample,
    "ann_lsh_topk": q_ann_lsh_topk,
    "embedding_norms": q_embedding_norms,
    "ivf_ann_topk": q_ivf_ann_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "approx_distinct_users": q_approx_distinct_users,
    "media_features": q_media_features,
    "video_frames": q_video_frames,
    "cdc_replay_sql": q_cdc_replay_sql,
    "top_tvl_tokens": q_top_tvl_tokens,
    "cdc_replay_demo": q_cdc_replay_demo,
    "hash_sample": q_hash_sample,
}

ORACLES: dict[str, str] = {
    "global_cumsum": O_GLOBAL_CUMSUM,
    "token_budget_mix": O_TOKEN_BUDGET_MIX,
    "cumulative_users": O_CUMULATIVE_USERS,
    "cumulative_volume": O_CUMULATIVE_VOLUME,
    "media_features": O_MEDIA_FEATURES,
    "video_frames": O_VIDEO_FRAMES,
    "curation_pipeline": _o_curation_pipeline(),
    "hash_sample": _o_hash_sample(),
    "split_counts": _o_split_counts(),
    "value_percentiles": O_VALUE_PERCENTILES,
    "latest_state": O_LATEST_STATE,
    "state_dedup": O_STATE_DEDUP,
    "asof_join": O_ASOF_JOIN,
    "decayed_avg": O_DECAYED_AVG,
    "daily_rollup": O_DAILY_ROLLUP,
    "hourly_windows": O_HOURLY_WINDOWS,
    "chain_signature": O_CHAIN_SIGNATURE,
    "except_dedup": O_EXCEPT_DEDUP,
    "exclusion_antijoin": O_EXCLUSION_ANTIJOIN,
    "union_convert": O_UNION_CONVERT,
    "running_window": O_RUNNING_WINDOW,
    "user_sessions": O_USER_SESSIONS,
    "parent_event": O_PARENT_EVENT,
    "explode_props": O_EXPLODE_PROPS,
    "debezium_roundtrip": O_DEBEZIUM_ROUNDTRIP,
    "trade_decimal": O_TRADE_DECIMAL,
    "csv_struct": O_CSV_STRUCT,
    "content_codec": O_CONTENT_CODEC,
    "relay_export": O_RELAY_EXPORT,
    "volume_rules": O_VOLUME_RULES,
    "pricing_summary": O_PRICING_SUMMARY,
    "region_revenue": O_REGION_REVENUE,
    "topk_orders": O_TOPK_ORDERS,
    "distinct_brands": O_DISTINCT_BRANDS,
    "opcode_roundtrip": O_OPCODE_ROUNDTRIP,
    "normalize_address": O_NORMALIZE_ADDRESS,
    "text_analyze": O_TEXT_ANALYZE,
    "exact_dup_groups": O_EXACT_DUP_GROUPS,
    "jaccard_pairs": O_JACCARD_PAIRS,
    "minhash_near_dup": O_MINHASH_NEAR_DUP,
    "simhash_near_dup": O_SIMHASH_NEAR_DUP,
    "wallet_data_vm": O_WALLET_DATA_VM,
    "wallet_verify_vm": O_WALLET_VERIFY_VM,
    "relay_cas_export": O_RELAY_CAS_EXPORT,
    "dedup_clusters": O_DEDUP_CLUSTERS,
    "near_dup_curation": O_NEAR_DUP_CURATION,
    "near_dup_pipeline": _o_near_dup_pipeline(),
    "stratified_sample": O_STRATIFIED_SAMPLE,
    "cosine_topk": O_COSINE_TOPK,
    "ivf_ann_topk_full": O_COSINE_TOPK,
    "embedding_norms": O_EMBEDDING_NORMS,
    "embedding_near_dup": O_EMBEDDING_NEAR_DUP,
    "embedding_near_dup_lsh": O_EMBEDDING_NEAR_DUP,
    "cdc_replay_sql": O_CDC_REPLAY_SQL,
    "top_tvl_tokens": O_TOP_TVL_TOKENS,
    "repetition_metrics": O_REPETITION_METRICS,
    "sequence_packing": O_SEQUENCE_PACKING,
    "packing_manifest": O_PACKING_MANIFEST,
    "decontamination": _o_decontamination(),
    "corpus_mix": _o_corpus_mix(),
    "vocab_topk": O_VOCAB_TOPK,
    "salient_terms": O_SALIENT_TERMS,
    "length_histogram": O_LENGTH_HISTOGRAM,
    "lm_quality": O_LM_QUALITY,
    "domain_nb": O_DOMAIN_NB,
    "interval_rollup": O_INTERVAL_ROLLUP,
    "pii_report": _o_pii_report(),
    "span_dedup": O_SPAN_DEDUP,
    "weighted_sample": O_WEIGHTED_SAMPLE,
    "corpus_shuffle": O_CORPUS_SHUFFLE,
    "doc_chunks": O_DOC_CHUNKS,
    "semantic_dedup": O_SEMANTIC_DEDUP,
    "incremental_dedup": O_INCREMENTAL_DEDUP,
    "incremental_near_dup": O_INCREMENTAL_NEAR_DUP,
    "novel_content_feed": O_NOVEL_CONTENT_FEED,
}
