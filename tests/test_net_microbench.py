"""Loopback network-path observables: both benches must produce positive,
internally consistent throughput numbers."""

from __future__ import annotations

from tools import net_microbench


def _check(res: dict) -> None:
    assert res["streams"] >= 1
    assert res["secs"] > 0
    assert res["gbytes"] > 0
    assert res["gbps_bytes"] > 0
    # throughput must be bytes/secs (rounding tolerance)
    assert abs(res["gbps_bytes"] - res["gbytes"] / res["secs"]) < 0.05 * max(
        1.0, res["gbps_bytes"]
    )


def test_loopback_tcp():
    _check(net_microbench.bench_tcp(streams=2, duration=0.3))


def test_loopback_http():
    _check(net_microbench.bench_http(streams=2, duration=0.3))
