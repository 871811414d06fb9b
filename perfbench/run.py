"""CDC apply benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
(and cached) before the clock starts; the run itself happens in a child
process, which this script times out, waits for, and cleans up after,
including the Spark JVM it starts. The last line on stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, read from Spark's event log and the benchmark's spans.

Every finished (or failed) run is appended to perfbench/out/ledger.jsonl
the moment it ends; `python3 perfbench/report.py` summarises it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CACHE = os.path.join(HERE, ".cache")
RUN_TIMEOUT_S = 160.0   # worker deadline; reaping adds at most REAP_GRACE_S
REAP_GRACE_S = 10.0
DRIVER_MEM = "2g"   # a heap that fits a shared 15 GB machine (default 48g)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def end_to_end(res: dict) -> dict[str, float]:
    from stats import median

    events = sum(b["events"] for b in res["batches"])
    return {
        "apply_eps": median([b["events"] / b["s"] for b in res["batches"]]),
        "batch_s_p50": median([b["s"] for b in res["batches"]]),
        "read_s_p50": median(res["reads"]),
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
        "write_bytes_per_event": res["write_bytes"] / events,
    }


def cpu_jiffies() -> list[int]:
    """Host CPU counters (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    readings: context for a slow run, never used to adjust a number."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def append_ledger(record: dict) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "ledger.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
        f.flush()
        os.fsync(f.fileno())


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _reap_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the run's group (worker, JVM, Python
    workers) to end; kill what is left after `grace_s`."""
    deadline = time.time() + grace_s
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.2)
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        while _group_alive(pgid):
            time.sleep(0.1)


def run_worker(spec: dict, run_dir: str, timeout_s: float) -> tuple[int | None, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp, TON_ETL_DRIVER_MEM=DRIVER_MEM,
        SPARK_SUBMIT_OPTS=(
            env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
        ).strip(),
        PYTHONDONTWRITEBYTECODE="1",
    )
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        _reap_group(proc.pid, grace_s=REAP_GRACE_S)
    return rc, log_path


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ton_etl_spark", "__init__.py")):
        log(f"program source not found: {ROOT}/ton_etl_spark")
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from inputs import prepare
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]

    t = time.time()
    meta = prepare(CACHE, wl.shape, args.seed)
    log(f"inputs ready in {time.time() - t:.1f}s: {meta['dir']}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    run_dir = os.path.join(OUT, "runs", run_id)
    os.makedirs(run_dir)
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "inputs": meta, "spawn_t": time.time(),
    }
    timeout = RUN_TIMEOUT_S - (time.time() - t_start)
    jiffies = cpu_jiffies()
    rc, log_path = run_worker(spec, run_dir, timeout)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "eventlog"), ignore_errors=True)

    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": wl.cores,
        "rc": rc, "wall_s": time.time() - t_start,
        "host_steal_share": steal_share(jiffies, cpu_jiffies()),
    }
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        record.update(ok=False, error="timeout" if rc is None else f"exit {rc}")
        append_ledger(record)
        log(f"run failed ({record['error']}); worker log tail:\n{_tail(log_path)}")
        return 1
    with open(res_path) as f:
        res = json.load(f)
    if not res["batches"] or res["errors"]:
        record.update(ok=False, error="; ".join(res["errors"]) or "no batches",
                      attempted=res["attempted"], failed=res["failed"])
        append_ledger(record)
        log(f"run failed: {record['error']}")
        return 1

    from stats import timing_summary

    e2e = end_to_end(res)
    correct = not res["mismatches"]
    record.update(
        ok=True, correct=correct, attempted=res["attempted"],
        failed=res["failed"], e2e=e2e,
        batch_s=timing_summary([b["s"] for b in res["batches"]]),
        batch_times=[b["s"] for b in res["batches"]],
        read_s=timing_summary(res["reads"]),
        session_s=res["session_s"], lake_setups=res["lake_setups"],
        mismatches=res["mismatches"],
        batch_inputs=meta["batches"],
    )
    if args.trace:
        record["layers"] = res["layers"]
    append_ledger(record)

    import report

    if args.trace:
        metrics = {k: {"value": v, "unit": report.layer_unit(k)}
                   for k, v in res["layers"].items()}
        for line in report.trace_notes(args.workload, e2e["apply_eps"]):
            log(line)
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in report.E2E_UNITS.items()}
    for k, m in metrics.items():
        log(f"  {args.workload:18s} {k:34s} {m['value']:>14.6g} {m['unit']}")
    if not correct:
        log("PARITY MISMATCH: " + "; ".join(res["mismatches"]))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
