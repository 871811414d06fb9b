"""bench.py's stdout summary: one JSON line, small enough that a reader
keeping only the tail of stdout still parses it."""

import json

import bench


def _run(cores, eps, sha="s0"):
    return {
        "cores": cores,
        "n_events": 6_000_000,
        "wall_s": round(6_000_000 / eps, 1),
        "events_per_sec": eps,
        "warm_events_per_sec": eps * 1.1,
        "state_sha": sha,
        "calib_s": [0.42, 0.43],
        "batches": [
            {"events": 2_000_000, "rate": eps * f,
             "host_cpu": {"user": 50.0, "sys": 5.0, "steal": 0.0}}
            for f in (0.8, 1.0, 1.1, 1.2)
        ],
    }


def test_summary_line_is_one_short_json_line():
    # two paired windows, as after the second window of a longer run
    all_runs = {"1": [_run(1, 14000.0), _run(1, 14500.0)],
                "4": [_run(4, 45000.0), _run(4, 47000.0)]}
    results = {
        "sf": "/data/sf0.1",
        "unit": "sec",
        "queries": {f"query_{i:02d}_with_a_long_name": 1.234 + i for i in range(80)},
        "cdc": bench.cdc_stats(all_runs),
    }
    bench._finish(results)

    line = bench.summary_line(results)
    assert "\n" not in line and len(line) < 1500
    out = json.loads(line)
    assert out["value"] == results["value"] and out["unit"] == "sec"
    assert out["windows"] == 2 and out["state_parity"] is True
    assert set(out["median_eps"]) == {"1", "4"}
    assert out["median_eps"]["4"]["total"] == 46000.0
    assert out["paired_warm_scaling_efficiency"] is not None
    assert out["paired_total_scaling_efficiency"] is not None
    # the full per-query detail stays out of the line
    assert "query_00_with_a_long_name" not in line
