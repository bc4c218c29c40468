"""The end-to-end metrics of a run, from its op records."""

import pytest

from perfbench.run import _e2e


def _pass(**latencies):
    return {"traced": False, "ops": [{"name": n, "start": 0.0, "end": t} for n, t in latencies.items()]}


def test_e2e_takes_pass_totals_and_per_op_medians():
    passes = [_pass(a=1.0, b=2.0, c=3.0, d=9.0), _pass(a=1.2, b=2.4, c=3.1, d=4.0),
              _pass(a=1.1, b=2.2, c=2.9, d=4.4)]
    got = _e2e(passes, setup_s=5.0, peak_rss_mb=100.0)
    assert got["total_s"] == pytest.approx(10.7)  # pass totals 15.0, 10.7, 10.6
    # per-op medians a=1.1, b=2.2, c=3.0, d=4.4; their median lies between b and c
    assert got["op_p50_s"] == pytest.approx((2.2 + 3.0) / 2)
    assert (got["setup_s"], got["peak_rss_mb"]) == (5.0, 100.0)
