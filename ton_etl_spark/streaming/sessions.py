"""Gap-based session windows (streaming): a custom stateful operator
on `applyInPandasWithState`.

The batch twin (`operators/sessions.py`) closes a session when the
next event is more than `gap_s` later; here the open session per key
lives in the state store across micro-batches and closes either when
a later event arrives past the gap ("gap") or when the event-time
watermark passes its deadline ("timeout") — the streaming-only case a
batch recompute cannot express, and the reason this needs a custom
stateful operator rather than `window(session_window=...)`: we keep a
key-local session ordinal in state so output rows are join-compatible
with the batch operator (the parity test in
tests/test_streaming_sessions.py holds gap-closed output identical).

Scale shape: state is one fixed-size tuple per ACTIVE key (open
session + ordinal), not per event; each micro-batch shuffles on the
grouping key only; Arrow moves batches in and out of Python. Late data
past the watermark is dropped by the engine before reaching the
operator — the same contract as any watermarked stateful op.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_FIELDS = (
    "session_id long, session_start_s long, session_end_s long, "
    "n_events long, total_value double, closed_by string"
)
STATE_SCHEMA = (
    "open_start long, open_last long, n long, vsum6 long, next_sid long"
)


def _q6(v: float) -> int:
    """round(v * 1e6) with Spark's F.round semantics: Spark rounds the
    SHORTEST DECIMAL REPR of the double (BigDecimal.valueOf) HALF_UP —
    Python's built-in round() is half-even and would break the exact
    stream==batch parity on a 6th-decimal tie. Decimal(repr(x))
    is the same shortest-repr construction as BigDecimal.valueOf(x)."""
    return int(
        Decimal(repr(v * 1000000.0)).quantize(Decimal(1), ROUND_HALF_UP)
    )


def sessionize_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming DataFrame -> append stream of CLOSED sessions:
    (key, session_id, session_start_s, session_end_s, n_events,
    total_value, closed_by in {'gap','timeout'}). Assumes events of one
    key arrive in event-time order across micro-batches (true for a
    time-sliced source: CDC logs, Kafka per-key order); within a batch
    they are sorted here."""
    key_field = events.schema[key_col]
    out_schema = f"{key_col} {key_field.dataType.simpleString()}, {OUT_FIELDS}"
    wm = watermark or f"{2 * gap_s} seconds"

    def fn(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def row(sid, s, e, n, v, how):
            return {
                key_col: key[0],
                "session_id": sid,
                "session_start_s": s,
                "session_end_s": e,
                "n_events": n,
                # v is an exact integer count of micro-units; /1e6 is the
                # correctly-rounded double of a <=6-decimal value, which
                # F.round(..., 6) on the batch side leaves untouched —
                # bit-identical parity with the batch kernel's
                # round(sum(v6)/1e6, 6) without any Python rounding.
                "total_value": v / 1000000.0,
                "closed_by": how,
            }

        out = []
        if state.hasTimedOut:
            s0, l0, n0, v0, sid = state.get
            if s0 is not None:
                out.append(row(sid, s0, l0, n0, v0, "timeout"))
            # KEEP the state (open session cleared, ordinal advanced):
            # state.remove() here would restart the key's session_id at
            # 1 when it comes back after an idle period, emitting a
            # duplicate (key, session_id) and breaking join-parity with
            # the batch operator. The cost is one small tuple per
            # ever-active key with no further timeout armed — a real
            # deployment that needs reclamation would arm a long TTL
            # timeout here and accept ordinal restart past it.
            state.update((None, None, 0, 0, sid + 1))
        else:
            open_ = state.get if state.exists else None
            s0, l0, n0, v0, sid = open_ or (None, None, 0, 0, 1)
            for pdf in pdfs:
                # explicit ns path: pandas>=2 may hand Arrow-backed
                # datetime64[us], where a bare astype("int64") would be
                # microseconds and silently break the gap arithmetic
                es = (
                    pdf[ts_col]
                    .astype("datetime64[ns]")
                    .astype("int64")
                    // 1_000_000_000
                ).to_numpy()
                vals = pdf[value_col].to_numpy()
                order = es.argsort(kind="stable")
                for i in order:
                    t, v = int(es[i]), _q6(float(vals[i]))
                    if s0 is None:
                        s0, l0, n0, v0 = t, t, 1, v
                    elif t - l0 <= gap_s:
                        l0, n0, v0 = max(l0, t), n0 + 1, v0 + v
                    else:
                        out.append(row(sid, s0, l0, n0, v0, "gap"))
                        sid += 1
                        s0, l0, n0, v0 = t, t, 1, v
            state.update((s0, l0, n0, v0, sid))
            # deadline strictly after the current watermark or Spark
            # rejects the timestamp (late-arriving key whose gap
            # deadline already passed)
            deadline_ms = (l0 + gap_s + 1) * 1000
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[key_col, "session_id", "session_start_s",
                         "session_end_s", "n_events", "total_value",
                         "closed_by"],
            )

    return (
        events.withWatermark(ts_col, wm)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
