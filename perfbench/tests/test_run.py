"""Host-speed scaling and the end-to-end metrics, on synthetic inputs (no
Spark session).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402


def test_at_ref_scales_by_the_mean_of_the_bracketing_probes():
    ref = run.REF_PROBE_S
    assert run.at_ref(3.0, ref, ref) == pytest.approx(3.0)
    # a host twice as slow as the reference halves the figure
    assert run.at_ref(3.0, 2 * ref, 2 * ref) == pytest.approx(1.5)
    assert run.at_ref(3.0, ref, 3 * ref) == pytest.approx(1.5)


def test_e2e_takes_each_ops_best_run():
    samples = {"a": [2.0, 1.0, 1.5], "b": [0.5, 0.4], "c": [3.0]}
    m = run.e2e_metrics([9.0, 7.0, 8.0], 4.0, samples)
    assert m == {"setup_s": 12.0, "pass_ref_s": 4.4, "op_ref_p50_s": 1.0}


def test_host_probe_is_positive():
    assert run.host_probe() > 0
