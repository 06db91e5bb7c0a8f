"""bench.py is a driver-contract file (the per-round BENCH_r{N}.json
comes from running it); a bitrotten bench is a silent round failure.
Smoke it end-to-end at sf0.001 with one timed run and no warm-up pass,
and pin the JSON shape the driver and BASELINE.md protocol rely on."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_runs_and_emits_contract_json():
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_WARM": "0",
        }
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # ONE JSON line on stdout (the driver parses the last line). Round
    # 13 made the printed line COMPACT (the r12 driver capture lost the
    # round-over-round comparison to tail truncation of a tens-of-KB
    # line); everything bulky lives in the BENCH_detail.json sidecar.
    last = out.stdout.strip().splitlines()[-1]
    d = json.loads(last)
    assert d["metric"] == "headline_total_wall"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.001
    assert d["value"] > 0
    assert d["queries"] and all(v >= 0 for v in d["queries"].values())
    # printed per-query values are 2-decimal; tolerate the quantization
    assert abs(sum(d["queries"].values()) - d["value"]) < 0.02 * len(d["queries"])
    assert d["warmed"] is False and d["runs"] == 1
    assert "median_ratio" in d["drift"]
    # the compact line must survive a small capture window: names are
    # fixed (86 entries ~= 2.2 KB at sf0.1) so pin a generous ceiling
    # that still catches any reintroduction of the bulky sub-objects
    assert len(last) < 3500, len(last)
    # sidecar carries the full artifact (machine stamps, drift ratios,
    # families, secondary) in the pre-r13 shape _committed_minima reads
    full = json.load(open(d["detail"]))
    assert len(full["machine_before"]["loadavg"]) == 3
    assert len(full["machine_after"]["loadavg"]) == 3
    drift = full["drift"]
    assert set(drift) >= {"ratios", "median_ratio", "outliers"}
    assert isinstance(drift["ratios"], dict)
    assert full["queries"].keys() == d["queries"].keys()


def test_secondary_anchor_drift_gate(tmp_path):
    """Round-9 ADVICE: secondary timings are single-run first visits, so
    a run whose HEADLINE median drift was >= SECONDARY_ANCHOR_DRIFT_BAR
    must not mint secondary minima (an anchor minted on a 1.4x-drift day
    is inflated and hides a later real regression). Headline rows stay
    unconditional; legacy artifacts without a drift block still count."""
    sys.path.insert(0, REPO)
    import bench

    def art(name, doc):
        (tmp_path / name).write_text(json.dumps(doc))

    # clean-day run: headline median 1.02 -> secondary minted
    art("BENCH_self_a.json", {
        "sf": 0.1,
        "queries": {"q_head": 1.0},
        "drift": {"median_ratio": 1.02},
        "secondary": {"queries": {"q_sec_clean": 2.0}},
    })
    # drifted-day run: headline median 1.40 -> secondary NOT minted,
    # headline still harvested (and can lower q_head)
    art("BENCH_self_b.json", {
        "sf": 0.1,
        "queries": {"q_head": 0.9},
        "drift": {"median_ratio": 1.40},
        "secondary": {"queries": {"q_sec_drifted": 1.5, "q_sec_clean": 0.1}},
    })
    # legacy artifact with no drift block -> everything harvested
    art("BENCH_r1.json", {
        "sf": 0.1,
        "queries": {"q_legacy": 3.0},
        "secondary": {"queries": {"q_sec_legacy": 4.0}},
    })
    # wrong sf -> ignored entirely
    art("BENCH_self_c.json", {
        "sf": 0.01,
        "queries": {"q_other_sf": 9.0},
        "drift": {"median_ratio": 1.0},
    })
    # the latest run's uncommitted sidecar -> never an anchor
    art("BENCH_detail.json", {
        "sf": 0.1,
        "queries": {"q_head": 0.1, "q_sidecar": 0.5},
    })

    minima = bench._committed_minima(0.1, here=str(tmp_path))
    assert minima == {
        "q_head": 0.9,          # headline min across both runs
        "q_sec_clean": 2.0,     # clean-day visit only; 0.1 from the
                                # drifted run is rejected wholesale
        "q_legacy": 3.0,
        "q_sec_legacy": 4.0,    # legacy artifacts predate the gate
    }
    assert "q_sec_drifted" not in minima
    assert "q_other_sf" not in minima
    assert "q_sidecar" not in minima
