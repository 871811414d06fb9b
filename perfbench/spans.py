"""Spans around the public calls into each layer of the CDC apply path.

A traced run replaces each call at the name its caller looks it up by
(`apply_batch` finds `merge_into` in `ton_etl_spark.cdc.pipeline`, the
streaming handler finds `apply_batch` there too), so the program itself
is unchanged. Each span records its name, start, end, parent and
micro-batch, and sets the Spark job description while it is open, so
the event log names the span that issued each job.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import asdict, dataclass, field

from stats import clipped_union


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    phase: str
    t0: float
    t1: float | None = None
    attrs: dict = field(default_factory=dict)


class SpanRecorder:
    """Collects nested spans on the driver thread. `phase` and `batch`
    are set by the benchmark loop; child spans inherit them."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"
        self.batch: int | None = None

    def open(self, name: str, batch: int | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        if batch is None:
            batch = parent.batch if parent is not None else self.batch
        span = Span(
            id=len(self.spans), name=name,
            parent=parent.id if parent is not None else None,
            batch=batch, phase=parent.phase if parent is not None else self.phase,
            t0=time.time(),
        )
        self.spans.append(span)
        self._stack.append(span)
        self._describe(span)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        if self._stack and self._stack[-1] is span:
            self._stack.pop()
        self._describe(self._stack[-1] if self._stack else None)

    def _describe(self, span: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setJobDescription(
            None if span is None
            else f"{span.name} batch={span.batch} span={span.id}"
        )

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration of `span` minus the part its direct children cover."""
    kids = [
        (s["t0"], s["t1"]) for s in spans
        if s["parent"] == span["id"] and s["t1"] is not None
    ]
    dur = span["t1"] - span["t0"]
    return dur - clipped_union(kids, span["t0"], span["t1"])


def _wrap(rec: SpanRecorder, name: str, fn, batch_arg: bool = False,
          after=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        span = rec.open(name, batch=kwargs.get("batch_id") if batch_arg else None)
        try:
            out = fn(*args, **kwargs)
            if after is not None:
                after(span, args, kwargs, out)
            return out
        finally:
            rec.close(span)

    traced.__wrapped_by_span__ = True
    return traced


def _note_manifest(span, args, kwargs, out):
    table, manifest = args[0], args[1]
    path = os.path.join(table.root, "_versions", f"v{manifest['version']}.json")
    span.attrs["manifest_bytes"] = os.path.getsize(path)


def _note_result(span, args, kwargs, out):
    if isinstance(out, dict):
        span.attrs["result"] = {
            k: out.get(k) for k in (
                "strategy", "affected_buckets", "n_renames", "n_chained_renames",
            ) if k in out
        }


def _note_salt(span, args, kwargs, out):
    span.attrs["salt"] = out


def install(rec: SpanRecorder) -> None:
    """Wrap each layer's entry point at the name its caller uses."""
    from ton_etl_spark import gold
    from ton_etl_spark.cdc import pipeline, silver, skew
    from ton_etl_spark.lake import consumer, table

    if getattr(pipeline.apply_batch, "__wrapped_by_span__", False):
        return
    pipeline.apply_batch = _wrap(
        rec, "pipeline.apply", pipeline.apply_batch, batch_arg=True,
        after=_note_result,
    )
    pipeline._resolve_renames = _wrap(
        rec, "pipeline.rename_resolver", pipeline._resolve_renames
    )
    pipeline.merge_into = _wrap(rec, "merge", pipeline.merge_into)
    skew.HotKeyMonitor.salt_for = _wrap(
        rec, "skew.salt_for", skew.HotKeyMonitor.salt_for, after=_note_salt
    )
    silver.SilverFanout.apply = _wrap(rec, "silver.apply", silver.SilverFanout.apply)
    gold.GoldDecayedPrice.update = _wrap(
        rec, "gold.update", gold.GoldDecayedPrice.update
    )
    gold.GoldAssetTvl.update = _wrap(rec, "gold.update", gold.GoldAssetTvl.update)
    table.LakeTable.write_buckets = _wrap(
        rec, "table.write_buckets", table.LakeTable.write_buckets
    )
    table.LakeTable.commit = _wrap(
        rec, "table.commit", table.LakeTable.commit, after=_note_manifest
    )
    consumer.ChangeFeedConsumer.poll = _wrap(
        rec, "consumer.poll", consumer.ChangeFeedConsumer.poll
    )
