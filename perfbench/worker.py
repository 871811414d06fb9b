"""One benchmark run inside its own process (started by run.py).

    python3 perfbench/worker.py <spec.json>

Starts the Spark session, runs the workload's driver loop, checks the
result against the oracle and writes `result.json` next to the spec.
With tracing on, the session also writes an uncompressed event log,
the layer entry points are wrapped in spans, and the per-layer
reduction is part of the result.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def _tree_rss(pid: int) -> int:
    """Resident bytes of `pid` and all its descendants (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the JVM's process tree (JVM + Python workers)."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid = pid
        self.period = period
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), _tree_rss(self.pid)))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def peak(self, t0: float, t1: float) -> int:
        inside = [r for t, r in self.samples if t0 <= t <= t1]
        return max(inside) if inside else 0


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    run_dir = os.path.dirname(spec_path)
    from ton_etl_spark.session import get_spark

    import spans as spans_mod
    from workloads import DRIVERS, WORKLOADS, Ctx

    wl = WORKLOADS[spec["workload"]]
    extra = None
    if spec["trace"]:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
    t0 = time.time()
    spark = get_spark(f"perfbench-{spec['workload']}", cores=wl.cores,
                      extra_conf=extra)
    session_s = time.time() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rss = RssSampler(jvm_pid).start()

    rec = None
    if spec["trace"]:
        rec = spans_mod.SpanRecorder(spark.sparkContext)
        spans_mod.install(rec)
    work = os.path.join(run_dir, "work")
    os.makedirs(work, exist_ok=True)
    ctx = Ctx(spark, spec["inputs"], spec["seconds"], work, rec, spec["spawn_t"])
    try:
        DRIVERS[wl.shape.kind](ctx)
    except Exception:
        ctx.fail("driver")
    rss.stop()
    result = {
        "session_s": session_s,
        "batches": ctx.batches,
        "reads": ctx.reads,
        "polls": ctx.polls,
        "write_bytes": ctx.write_bytes,
        "lake_setups": ctx.lake_setups,
        "setup_s": ctx.setup_s() if ctx.first_batch_t is not None else None,
        "peak_rss_bytes": rss.peak(*ctx.window) if len(ctx.window) == 2 else 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors,
        "mismatches": ctx.mismatches,
    }
    spark.stop()
    if rec is not None and ctx.batches and not ctx.errors:
        import eventlog
        from workloads import BUCKETS

        span_list = rec.to_json()
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(span_list, f)
        log = eventlog.read_event_log(os.path.join(run_dir, "eventlog"))
        result["layers"] = eventlog.reduce_layers(
            log, span_list, spec["inputs"]["events_dir"],
            {
                "events": sum(b["events"] for b in ctx.batches),
                "distinct_upsert_keys": sum(b["keys"] for b in ctx.batches),
            },
            BUCKETS, ctx.polls,
        )
    with open(os.path.join(run_dir, "result.json.tmp"), "w") as f:
        json.dump(result, f)
    os.replace(os.path.join(run_dir, "result.json.tmp"),
               os.path.join(run_dir, "result.json"))


if __name__ == "__main__":
    main(sys.argv[1])
