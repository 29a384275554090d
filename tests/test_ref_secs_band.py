"""The ref_secs noise-band tool contract (SCALE.md lesson 54).

`tools/ref_secs_band.py` is the instrument behind the documented
round-over-round noise band: residual = (total_B/total_A) /
(ref_secs_B/ref_secs_A) over the COMMON query set. These tests pin
the three behaviors the lesson relies on: common-set restriction
(registry growth must not inflate the ratio), the driver-artifact
`parsed` unwrap, and the residual arithmetic itself — so a future
edit cannot silently change what the band numbers mean.
"""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

TOOL = str(Path(__file__).resolve().parents[1] / "tools/ref_secs_band.py")
_spec = importlib.util.spec_from_file_location(
    "ref_secs_band", TOOL
)
band = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(band)


def test_common_total_restricts_to_shared_queries():
    a = {"queries": {"q1": 1.0, "q2": 2.0, "only_a": 50.0}}
    b = {"queries": {"q1": 2.0, "q2": 4.0, "only_b": 99.0}}
    ca, cb, n = band.common_total(a, b)
    assert n == 2
    assert ca == 3.0 and cb == 6.0  # the 50s/99s outliers excluded


def test_total_prefers_value_field():
    assert band.total({"value": 12.5, "queries": {"q": 1.0}}) == 12.5
    assert band.total({"queries": {"q": 1.0, "r": 2.0}}) == 3.0


def test_cli_residual_math_and_parsed_unwrap(tmp_path):
    # A: 100s total, ref 2.0. B (driver-shaped, nested under
    # "parsed"): 150s total, ref 2.5 -> raw 1.5, ref-ratio 1.25,
    # residual 1.2.
    pa = tmp_path / "a.json"
    pb = tmp_path / "b.json"
    pa.write_text(
        json.dumps(
            {"queries": {"q1": 60.0, "q2": 40.0}, "ref_secs": 2.0}
        )
    )
    pb.write_text(
        json.dumps(
            {
                "parsed": {
                    "queries": {"q1": 90.0, "q2": 60.0},
                    "ref_secs": 2.5,
                }
            }
        )
    )
    out = subprocess.run(
        [sys.executable, TOOL, str(pa), str(pb)],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert "common 2 queries" in out
    assert "raw total ratio:      1.500" in out
    assert "ref_secs ratio:       1.250" in out
    assert "residual (raw/ref):   1.200" in out


def test_cli_missing_ref_secs_is_nan_not_crash(tmp_path):
    pa = tmp_path / "a.json"
    pb = tmp_path / "b.json"
    pa.write_text(json.dumps({"queries": {"q": 1.0}}))
    pb.write_text(json.dumps({"queries": {"q": 2.0}}))
    out = subprocess.run(
        [sys.executable, TOOL, str(pa), str(pb)],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert "raw total ratio:      2.000" in out
    assert "nan" in out  # normalization unavailable, loudly
