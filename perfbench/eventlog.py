"""Per-layer numbers from Spark's event log and the benchmark's spans.

A traced run writes an uncompressed event log. This module reads it
back and charges every Spark job to the innermost span open when the
job was submitted (the driver runs one micro-batch at a time, so the
span stack at submission time names the caller). Job call sites are
no help here: inside `foreachBatch` they all point into py4j.

What is read:
  * jobs: submission and completion time, stage ids;
  * tasks: executor run / CPU / GC time, shuffle write bytes and time,
    spill, output bytes (from each task's metrics);
  * SQL metrics: per-task accumulator updates plus driver-side updates,
    each tied to the plan node that declared it (SQL execution start
    and adaptive re-plans), e.g. "scan time", "time to run Python
    workers", "time in aggregation build", "number of written files".

`reduce_layers` turns spans + log + per-batch input counts into the
per-layer metrics named in BENCHMARK.json.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from spans import self_time
from stats import clipped_union

PY_DECODE_NODES = ("ArrowEvalPython", "BatchEvalPython")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate")


@dataclass
class Job:
    id: int
    t0: float
    t1: float | None
    stages: list[int]


@dataclass
class SqlMetric:
    execution: int
    node: str
    name: str
    location: str


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # stage id -> summed task metrics
    stage_metrics: dict[int, dict] = field(default_factory=lambda: defaultdict(
        lambda: defaultdict(float)))
    stage_tasks: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    metrics: dict[int, SqlMetric] = field(default_factory=dict)
    # accumulator id -> stage id -> summed task updates
    acc_stage: dict[int, dict[int, float]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    # accumulator id -> summed driver-side updates
    acc_driver: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    exec_start: dict[int, float] = field(default_factory=dict)


def _walk_plan(log: EventLog, execution: int, node: dict) -> None:
    name = node.get("nodeName", "")
    loc = (node.get("metadata") or {}).get("Location", "")
    for m in node.get("metrics", []):
        log.metrics[m["accumulatorId"]] = SqlMetric(execution, name, m["name"], loc)
    for child in node.get("children", []):
        _walk_plan(log, execution, child)


_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "mem_spill": ("Memory Bytes Spilled",),
    "disk_spill": ("Disk Bytes Spilled",),
    "shuffle_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_write_ns": ("Shuffle Write Metrics", "Shuffle Write Time"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


def parse_events(lines) -> EventLog:
    """Parse event-log JSON lines (any iterable of str)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = Job(
                e["Job ID"], e["Submission Time"] / 1000.0, None,
                list(e.get("Stage IDs", [])),
            )
            log.jobs[job.id] = job
            for s in job.stages:
                log.stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.t1 = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            log.stage_tasks[sid] += 1
            tm = e.get("Task Metrics") or {}
            acc = log.stage_metrics[sid]
            for key, path in _TASK_FIELDS.items():
                v = tm
                for p in path:
                    v = v.get(p, 0) if isinstance(v, dict) else 0
                acc[key] += float(v or 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in a and a.get("ID") is not None:
                    try:
                        log.acc_stage[a["ID"]][sid] += float(a["Update"])
                    except (TypeError, ValueError):
                        continue
        elif kind.endswith("SQLExecutionStart"):
            log.exec_start[e["executionId"]] = e["time"] / 1000.0
            _walk_plan(log, e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(log, e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                log.metrics.setdefault(m["accumulatorId"], SqlMetric(
                    e["executionId"], "", m["name"], ""
                ))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                log.acc_driver[acc_id] += float(value)
    return log


def read_event_log(log_dir: str) -> EventLog:
    """Read every event file Spark wrote under `log_dir` (the rolling
    `eventlog_v2_*/events_*` layout or a single plain file)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    ) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )

    def lines():
        for p in files:
            with open(p) as f:
                yield from f

    return parse_events(lines())


# -- attribution ------------------------------------------------------------


def innermost(spans: list[dict], t: float) -> dict | None:
    """The innermost span open at time `t` (latest start among the
    spans whose interval holds t)."""
    best = None
    for s in spans:
        if s["t0"] <= t <= (s["t1"] if s["t1"] is not None else float("inf")):
            if best is None or s["t0"] >= best["t0"]:
                best = s
    return best


def subtree(spans: list[dict], root_id: int) -> set[int]:
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids[i])
    return out


@dataclass
class Attributed:
    """Spark work charged to spans: job ids, task-metric totals, and
    SQL metric values, each keyed by span id."""
    jobs: dict[int, list[int]]
    task: dict[int, dict[str, float]]
    tasks: dict[int, int]
    sql: dict[int, list[tuple[SqlMetric, float]]]


def attribute(log: EventLog, spans: list[dict]) -> Attributed:
    jobs: dict[int, list[int]] = defaultdict(list)
    task: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: dict[int, int] = defaultdict(int)
    sql: dict[int, list] = defaultdict(list)
    job_span: dict[int, int] = {}
    for job in log.jobs.values():
        s = innermost(spans, job.t0)
        if s is not None:
            job_span[job.id] = s["id"]
            jobs[s["id"]].append(job.id)
    stage_span = {
        sid: job_span[jid] for sid, jid in log.stage_job.items() if jid in job_span
    }
    for sid, vals in log.stage_metrics.items():
        if sid in stage_span:
            span_id = stage_span[sid]
            for k, v in vals.items():
                task[span_id][k] += v
            tasks[span_id] += log.stage_tasks[sid]
    exec_span = {}
    for ex, t in log.exec_start.items():
        s = innermost(spans, t)
        if s is not None:
            exec_span[ex] = s["id"]
    for acc_id, meta in log.metrics.items():
        for sid, v in log.acc_stage.get(acc_id, {}).items():
            if sid in stage_span:
                sql[stage_span[sid]].append((meta, v))
        if acc_id in log.acc_driver and meta.execution in exec_span:
            sql[exec_span[meta.execution]].append((meta, log.acc_driver[acc_id]))
    return Attributed(jobs, task, tasks, sql)


def _sql_sum(att: Attributed, span_ids, name: str, nodes=None,
             location: str | None = None) -> float:
    total = 0.0
    for sid in span_ids:
        for meta, v in att.sql.get(sid, []):
            if meta.name != name:
                continue
            if nodes is not None and not meta.node.startswith(nodes):
                continue
            if location is not None and location not in meta.location:
                continue
            total += v
    return total


def _task_sum(att: Attributed, span_ids, key: str) -> float:
    return sum(att.task.get(s, {}).get(key, 0.0) for s in span_ids)


def reduce_layers(
    log: EventLog,
    spans: list[dict],
    events_dir: str,
    batch_info: dict,
    bucket_count: int,
    polls: list[dict],
) -> dict[str, float]:
    """Per-layer metrics over the measured micro-batches.

    `batch_info`: {'events': n, 'distinct_upsert_keys': n} summed over
    the measured batches (from the generated input files). `polls`:
    [{'rows': delivered, 'changed': rows changed since the cursor}].
    Times and counts are means per measured batch unless the name says
    otherwise; ratios are taken over totals."""
    measured = [s for s in spans if s["phase"] == "measure" and s["t1"] is not None]
    applies = [s for s in measured if s["name"] == "pipeline.apply"]
    nb = len(applies)
    if nb == 0:
        raise ValueError("no measured pipeline.apply spans in the trace")
    att = attribute(log, spans)
    by_id = {s["id"]: s for s in spans}
    events = max(batch_info["events"], 1)

    def ids_named(name: str, under: set[int] | None = None) -> list[int]:
        return [
            s["id"] for s in measured
            if s["name"] == name and (under is None or s["id"] in under)
        ]

    def tree(ids) -> set[int]:
        out: set[int] = set()
        for i in ids:
            out |= subtree(spans, i)
        return out

    def dur(ids) -> float:
        return sum(by_id[i]["t1"] - by_id[i]["t0"] for i in ids)

    apply_ids = [s["id"] for s in applies]
    apply_tree = tree(apply_ids)
    silver_gold = tree(ids_named("silver.apply") + ids_named("gold.update"))
    main_tree = apply_tree - silver_gold
    merge_ids = ids_named("merge", apply_tree)
    merge_tree = tree(merge_ids)
    write_ids = ids_named("table.write_buckets", merge_tree)
    commit_ids = ids_named("table.commit", merge_tree)
    poll_ids = ids_named("consumer.poll")
    poll_tree = tree(poll_ids)
    measured_tree = apply_tree | poll_tree

    # driver gap: apply-span time with no Spark job of that batch running
    gap = 0.0
    njobs = 0
    for a in applies:
        jids = [j for sid in subtree(spans, a["id"]) for j in att.jobs.get(sid, [])]
        njobs += len(jids)
        ivs = [
            (log.jobs[j].t0, log.jobs[j].t1 if log.jobs[j].t1 is not None else a["t1"])
            for j in jids
        ]
        gap += (a["t1"] - a["t0"]) - clipped_union(ivs, a["t0"], a["t1"])

    results = [by_id[i]["attrs"].get("result", {}) for i in apply_ids]
    strategies = [r.get("strategy") for r in results]
    salts = [
        by_id[i]["attrs"].get("salt") for i in ids_named("skew.salt_for", apply_tree)
    ]
    rows_to_py = _sql_sum(att, main_tree, "number of output rows", PY_DECODE_NODES)
    polled_rows = sum(p["rows"] for p in polls)
    written_rows = _sql_sum(att, tree(write_ids), "number of output rows", ("Execute",))
    silver_rows = _sql_sum(
        att, tree(ids_named("silver.apply")), "number of output rows", ("Execute",)
    )
    manifest_bytes = [by_id[i]["attrs"].get("manifest_bytes", 0) for i in commit_ids]
    ms, ns = 1e-3, 1e-9
    out = {
        "pipeline.batches": nb,
        "kafka_io.scan_s": _sql_sum(
            att, apply_tree, "scan time", ("Scan",), events_dir) * ms / nb,
        "kafka_io.rows_scanned_per_event": _sql_sum(
            att, apply_tree, "number of output rows", ("Scan",), events_dir) / events,
        "parsers.python_s": _sql_sum(
            att, main_tree, "time to run Python workers", PY_DECODE_NODES) * ms / nb,
        "parsers.rows_to_python": rows_to_py / nb,
        "parsers.bytes_to_python": _sql_sum(
            att, main_tree, "data sent to Python workers", PY_DECODE_NODES) / nb,
        "parsers.python_boot_s": (
            _sql_sum(att, main_tree, "time to start Python workers")
            + _sql_sum(att, main_tree, "time to initialize Python workers")
        ) * ms / nb,
        "parsers.useful_ratio": (
            batch_info["distinct_upsert_keys"] / rows_to_py if rows_to_py else 0.0
        ),
        "pipeline.apply_s": dur(apply_ids) / nb,
        "pipeline.self_s": sum(self_time(by_id[i], spans) for i in apply_ids) / nb,
        "pipeline.control_exec_s": _task_sum(att, apply_ids, "run_ms") * ms / nb,
        "pipeline.driver_gap_s": gap / nb,
        "pipeline.jobs_per_batch": njobs / nb,
        "pipeline.rename_resolver_s": dur(
            ids_named("pipeline.rename_resolver", apply_tree)) / nb,
        "pipeline.renames": sum(r.get("n_renames") or 0 for r in results) / nb,
        "pipeline.chained_renames": sum(
            r.get("n_chained_renames") or 0 for r in results) / nb,
        "skew.salt_for_s": dur(ids_named("skew.salt_for", apply_tree)) / nb,
        "skew.salted_batches": sum(1 for s in salts if s),
        "merge.self_s": sum(self_time(by_id[i], spans) for i in merge_ids) / nb,
        # hash aggregates report their build time; a sort-based
        # aggregate (max over a struct) reports none, its cost is the
        # sort feeding it (the bucket write's partition sort lands here too)
        "merge.agg_s": (
            _sql_sum(att, merge_tree, "time in aggregation build", AGG_NODES)
            + _sql_sum(att, merge_tree, "sort time", ("Sort",))
        ) * ms / nb,
        "merge.shuffle_bytes": _task_sum(att, merge_tree, "shuffle_bytes") / nb,
        "merge.shuffle_write_s": _task_sum(
            att, merge_tree, "shuffle_write_ns") * ns / nb,
        "merge.spill_bytes": (
            _task_sum(att, merge_tree, "mem_spill")
            + _task_sum(att, merge_tree, "disk_spill")) / nb,
        "merge.strategy_count.broadcast": strategies.count("broadcast"),
        "merge.strategy_count.union_agg": strategies.count("union_agg"),
        "table.write_buckets_s": dur(write_ids) / nb,
        "table.write_exec_s": _task_sum(att, tree(write_ids), "run_ms") * ms / nb,
        "table.bytes_written": _task_sum(att, tree(write_ids), "output_bytes") / nb,
        "table.files_written": _sql_sum(
            att, tree(write_ids), "number of written files", ("Execute",)) / nb,
        "table.rows_rewritten_per_event": written_rows / events,
        "table.affected_bucket_share": sum(
            (r.get("affected_buckets") or 0) / bucket_count for r in results) / nb,
        "table.commit_s": dur(commit_ids) / nb,
        "table.manifest_bytes": sum(manifest_bytes) / max(len(manifest_bytes), 1),
        "silver.apply_s": dur(ids_named("silver.apply", apply_tree)) / nb,
        "silver.rows": silver_rows / nb,
        "gold.update_s": dur(ids_named("gold.update", apply_tree)) / nb,
        "consumer.poll_s": dur(poll_ids) / max(len(poll_ids), 1),
        "consumer.rows_delivered": polled_rows / max(len(polls), 1),
        "consumer.files_read": _sql_sum(
            att, poll_tree, "number of files read", ("Scan",)) / max(len(poll_ids), 1),
        "consumer.useful_ratio": (
            sum(p["changed"] for p in polls) / polled_rows if polled_rows else 0.0
        ),
        "spark.executor_run_s": _task_sum(att, measured_tree, "run_ms") * ms / nb,
        "spark.executor_cpu_s": _task_sum(att, measured_tree, "cpu_ns") * ns / nb,
        "spark.gc_s": _task_sum(att, measured_tree, "gc_ms") * ms / nb,
        "spark.tasks_per_batch": sum(att.tasks.get(s, 0) for s in apply_tree) / nb,
    }
    return out
