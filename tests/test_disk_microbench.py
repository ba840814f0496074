"""Disk-path observable: the microbench must produce positive,
internally consistent throughputs."""

from __future__ import annotations

from tools import disk_microbench


def test_disk_write_then_read():
    buffered, durable = disk_microbench.bench_write(tasks=2, duration=0.3)
    assert buffered > 0
    assert durable > 0
    # fsync is folded into the durable window, so it can only slow it
    assert durable <= buffered * 1.01
    rbuf, rdirect = disk_microbench.bench_read(tasks=2, duration=0.3)
    assert rbuf > 0
    # O_DIRECT is either unsupported here (None) or a real positive number
    # strictly below the warm page-cache ceiling
    assert rdirect is None or 0 < rdirect


def test_disk_run_entry_shape():
    out = disk_microbench.run()
    for k in ("write_mib_s", "write_fsync_mib_s", "read_mib_s", "tasks",
              "block_kib", "scope"):
        assert k in out, k
    assert out["write_mib_s"] > 0 and out["read_mib_s"] > 0
    assert "methodology parity" in out["scope"]

