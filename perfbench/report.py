"""Summarise the run ledger (perfbench/out/ledger.jsonl).

    python3 perfbench/report.py

Prints, per workload: every end-to-end metric with its unit (median,
quartile spread and run count over the untraced runs), failed runs
over attempted runs, the traced runs' per-layer medians, the tracing
overhead, and scaling_eff when both bulk workloads have runs:

    scaling_eff = apply_eps(bulk_replay) / (4 * apply_eps(bulk_replay_1core))

(medians over untraced runs; reported, never gated).
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import iqr_share, median  # noqa: E402

LEDGER = os.path.join(HERE, "out", "ledger.jsonl")
E2E_UNITS = {
    "apply_eps": "1/s", "batch_s_p50": "s", "read_s_p50": "s",
    "setup_s": "s", "peak_rss_mb": "MB", "write_bytes_per_event": "B",
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "B"
    if leaf.endswith(("_ratio", "_per_event", "_share")):
        return "ratio"
    return "count"


def load(path: str = LEDGER) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def untraced_eps(records: list[dict], workload: str) -> float | None:
    vals = [
        r["e2e"]["apply_eps"] for r in records
        if r["workload"] == workload and r.get("ok") and not r["trace"]
        and r.get("correct")
    ]
    return median(vals)


def scaling_eff(records: list[dict]) -> float | None:
    four = untraced_eps(records, "bulk_replay")
    one = untraced_eps(records, "bulk_replay_1core")
    if four is None or one is None:
        return None
    return four / (4 * one)


def trace_notes(workload: str, traced_eps: float) -> list[str]:
    """Tracing overhead against this checkout's untraced runs, and
    scaling_eff, as far as the ledger allows."""
    records = load()
    base = untraced_eps(records, workload)
    lines = []
    if base:
        lines.append(
            f"tracing overhead ({workload}): traced apply_eps {traced_eps:.1f} vs "
            f"untraced median {base:.1f} -> {1 - traced_eps / base:+.1%}"
        )
    else:
        lines.append(f"tracing overhead ({workload}): no untraced runs yet")
    eff = scaling_eff(records)
    lines.append(
        "scaling_eff: " + (f"{eff:.3f}" if eff is not None
                           else "needs runs of bulk_replay and bulk_replay_1core")
    )
    return lines


def summarise(records: list[dict]) -> list[str]:
    by_wl: dict[str, list[dict]] = defaultdict(list)
    for r in records:
        by_wl[r["workload"]].append(r)
    lines = []
    for wl, rs in sorted(by_wl.items()):
        failed = [r for r in rs if not r.get("ok") or not r.get("correct", True)]
        lines.append(f"== {wl}: {len(rs)} runs, failed_share {len(failed)}/{len(rs)}"
                     f" = {len(failed) / len(rs):.3f}")
        ok = [r for r in rs if r.get("ok") and r.get("correct")]
        plain = [r for r in ok if not r["trace"]]
        for k, unit in E2E_UNITS.items():
            vals = [r["e2e"][k] for r in plain]
            if vals:
                spread = iqr_share(vals)
                lines.append(
                    f"  {k:24s} {median(vals):>12.5g} {unit:6s} "
                    f"iqr/median {spread if spread is not None else float('nan'):.3f}"
                    f"  n={len(vals)}"
                )
        batch_n = sum(r["batch_s"]["n"] for r in plain)
        if plain:
            lines.append(f"  batches measured: {batch_n} over {len(plain)} runs")
        for r in plain:
            if "p90" in r["batch_s"]:
                lines.append(f"  batch_s_p90 {r['batch_s']['p90']:.4g} s "
                             f"(n={r['batch_s']['n']}, run {r['run']})")
        traced = [r for r in ok if r["trace"] and "layers" in r]
        if traced:
            base = median([r["e2e"]["apply_eps"] for r in plain])
            teps = median([r["e2e"]["apply_eps"] for r in traced])
            if base:
                lines.append(f"  tracing overhead: {1 - teps / base:+.1%} "
                             f"(traced {teps:.1f} vs untraced {base:.1f} ev/s)")
            lines.append(f"  per-layer medians over {len(traced)} traced runs:")
            for k in traced[0]["layers"]:
                v = median([r["layers"][k] for r in traced])
                lines.append(f"    {k:36s} {v:>12.5g} {layer_unit(k)}")
    eff = scaling_eff(records)
    if eff is not None:
        lines.append(f"scaling_eff = {eff:.3f}")
    return lines


if __name__ == "__main__":
    print("\n".join(summarise(load())))
