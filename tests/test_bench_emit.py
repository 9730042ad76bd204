"""Pins on bench.py's stdout emission.

The driver captures the LAST 2000 chars of bench stdout and parses the
JSON line; round 11's full payload outgrew that window and the driver
recorded ``parsed: null`` for round 11 — the round lost its headline
number. These tests keep the rendered stdout line inside the budget at
the CURRENT headline size with worst-case field widths, so adding a
query to HEADLINE that would overflow the capture fails the suite
instead of silently voiding the next round's artifact.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _worst_case_core():
    # worst plausible widths: 4-digit-second timings (a 9999 s query
    # would itself be a failed round), 9-digit result counts (sf0.1's
    # largest is ~600k; 100x headroom), every query also listed failed
    # is impossible (failed rows carry null timings) — model the wider
    # of the two: all queries timed at max width plus a 3-name failed
    # list (a realistic partial-failure round).
    times = {name: 9999.999 for name in bench.HEADLINE}
    rows = {name: 999_999_999 for name in bench.HEADLINE}
    canary = {"query": "majority_vote", "min": 9999.999, "max": 9999.999}
    return bench.compact_payload(
        total=99999.999,
        times=times,
        rows=rows,
        failed=list(bench.HEADLINE[:3]),
        canary=canary,
        canary_pre=canary,
        sf=0.1,
    )


def test_stdout_line_fits_driver_tail_capture():
    line = json.dumps(_worst_case_core())
    assert len(line) <= bench.STDOUT_BUDGET, (
        f"bench stdout line is {len(line)} chars at worst-case widths; "
        f"budget is {bench.STDOUT_BUDGET} (driver tail capture is 2000). "
        "Trim the compact payload or move a field to BENCH_LOCAL.json."
    )


def test_compact_payload_has_no_sample_arrays():
    # the sample arrays are what pushed r11 past the capture — they must
    # never come back to the stdout core
    core = _worst_case_core()
    assert "samples" not in core
    assert set(core["noise_canary"]) == {"query", "min", "max"}
    assert set(core["noise_canary_pre"]) == {"query", "min", "max"}


def test_compact_payload_core_fields():
    core = _worst_case_core()
    # the driver-facing contract: these keys are what cross-round
    # tooling reads out of the parsed stdout line
    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "rows",
        "failed",
        "methodology",
        "timing",
        "sf",
        "detail",
        "canary_floor",
    ):
        assert key in core, key
    assert core["methodology"] == bench.METHODOLOGY
    assert core["timing"] == bench.TIMING_LABEL
    # r16 additive field: the machine-readable host-drift calibration —
    # min of the pre/post canary minima
    assert core["canary_floor"] == 9999.999


def test_row_drift_detects_change(tmp_path):
    # the previous run at the same sf with a differing count must
    # produce exactly one warning line naming the query and both counts
    prev = {"exact_dedup": 4992, "majority_vote": 14999}
    local = tmp_path / "BENCH_LOCAL.json"
    local.write_text(json.dumps({"sf": 0.1, "rows": prev}))
    warnings = bench.check_row_drift(
        str(tmp_path), 0.1, {"exact_dedup": 4000, "majority_vote": 14999}
    )
    assert len(warnings) == 1
    assert "exact_dedup" in warnings[0]
    assert "4992" in warnings[0] and "4000" in warnings[0]


def test_row_drift_skips_unparsed_and_other_sf(tmp_path):
    # no previous run, an unreadable one and a different-sf one must all
    # be skipped; with no comparable source there is no warning
    rows, local = {"exact_dedup": 99}, tmp_path / "BENCH_LOCAL.json"
    assert bench.check_row_drift(str(tmp_path), 0.1, rows) == []
    local.write_text("{truncated")
    assert bench.check_row_drift(str(tmp_path), 0.1, rows) == []
    local.write_text(json.dumps({"sf": 0.01, "rows": {"exact_dedup": 1}}))
    assert bench.check_row_drift(str(tmp_path), 0.1, rows) == []
