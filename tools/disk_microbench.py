"""Disk-path throughput observables.

Mirrors the reference's disk microbenchmark semantics —
``microbenchmarks/src/disk/read.rs:60-79`` (N parallel duration-bounded
tasks sequentially reading fixed-size blocks from per-task files, seek(0)
on EOF) and ``disk/write.rs:52-71`` (the write form: each task appends a
random buffer repeatedly; buffered, no fsync in the loop) — scaled to what
this sandbox can honestly measure: the repo filesystem. The reference
numbers characterize a RAID0 of NVMe drives (`/mnt/raid0`); these
characterize THIS host's filesystem + page-cache path, the same one
Spark's shuffle spill and parquet scan share. They are methodology parity,
not hardware parity — the ``disk_path`` result carries a ``scope`` note
so nobody reads them as RAID numbers.

Three rungs per run:

- ``write_mib_s``: buffered sequential write (the reference's loop —
  page-cache-assisted, what a task writing shuffle spill sees);
- ``write_fsync_mib_s``: the same bytes with a terminal fsync folded into
  the window — the durable-throughput floor the reference's long (50 s)
  runs converge to but a short window would otherwise overstate;
- ``read_mib_s``: buffered sequential re-read (page-cache ceiling on a
  warm file — labeled as such); ``read_odirect_mib_s`` additionally
  measures an O_DIRECT pass (cache-bypassed device path) where the
  filesystem permits it, else null.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time

#: 1 MiB blocks — the reference's default (``disk/read.rs``: size=1024 KiB).
BLOCK_SIZE = 1024 * 1024
TASKS = 4
DURATION_SECS = 1.2
#: Per-task file size; small enough to be polite, large enough that a
#: duration-bounded read loops the file several times.
FILE_BYTES = 64 * 1024 * 1024

_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "disk_microbench",
)


def _paths(tasks: int) -> list[str]:
    os.makedirs(_DIR, exist_ok=True)
    return [os.path.join(_DIR, f"testfile{i}") for i in range(tasks)]


def bench_write(
    tasks: int = TASKS, duration: float = DURATION_SECS
) -> tuple[float, float]:
    """(buffered MiB/s, fsync-inclusive MiB/s) across N parallel writers.

    Each task rewrites its own file from offset 0 with one pre-built
    random block (the reference builds a fresh random buffer per
    iteration; one reused block keeps the measured path I/O, not the
    RNG), duration-bounded, capped at FILE_BYTES per pass (seek(0) like
    the read bench, so disk usage is bounded)."""
    paths = _paths(tasks)
    block = os.urandom(BLOCK_SIZE)
    written = [0] * tasks
    fsync_secs = [0.0] * tasks
    barrier = threading.Barrier(tasks + 1)

    def writer(idx: int) -> None:
        fd = os.open(paths[idx], os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        try:
            barrier.wait()
            t0 = time.perf_counter()
            pos = 0
            while time.perf_counter() - t0 < duration:
                if pos >= FILE_BYTES:
                    os.lseek(fd, 0, os.SEEK_SET)
                    pos = 0
                os.write(fd, block)
                pos += BLOCK_SIZE
                written[idx] += BLOCK_SIZE
            f0 = time.perf_counter()
            os.fsync(fd)
            fsync_secs[idx] = time.perf_counter() - f0
        finally:
            os.close(fd)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(tasks)
    ]
    for t in threads:
        t.start()
    barrier.wait()
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    total_mib = sum(written) / (1024 * 1024)
    buffered = total_mib / max(elapsed - max(fsync_secs), 1e-9)
    durable = total_mib / elapsed
    return round(buffered, 1), round(durable, 1)


def bench_read(
    tasks: int = TASKS, duration: float = DURATION_SECS
) -> tuple[float, float | None]:
    """(buffered MiB/s, O_DIRECT MiB/s or None) across N parallel readers.

    Sequential BLOCK_SIZE reads per task, seek(0) on EOF (the reference's
    loop). Files must exist (run bench_write first). The buffered number
    is a page-cache ceiling on a just-written file — labeled as such; the
    O_DIRECT pass bypasses the cache where the filesystem permits."""
    import mmap

    paths = _paths(tasks)
    barrier = threading.Barrier(tasks + 1)

    def reader(idx: int, flags: int, counts: list) -> None:
        fd = os.open(paths[idx], flags)
        # O_DIRECT requires block-aligned user buffers, which os.read's
        # internal allocation doesn't guarantee — an anonymous mmap is
        # page-aligned, so preadv into it satisfies the alignment rule
        buf = mmap.mmap(-1, BLOCK_SIZE)
        try:
            barrier.wait()
            t0 = time.perf_counter()
            pos = 0
            while time.perf_counter() - t0 < duration:
                n = os.preadv(fd, [buf], pos)
                if n <= 0:
                    pos = 0
                    continue
                pos += n
                counts[idx] += n
        finally:
            buf.close()
            os.close(fd)

    def run_pass(flags: int, counts: list) -> float:
        threads = [
            threading.Thread(target=reader, args=(i, flags, counts))
            for i in range(len(paths))
        ]
        for t in threads:
            t.start()
        barrier.wait()
        t0 = time.perf_counter()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
        return round(sum(counts) / (1024 * 1024) / elapsed, 1)

    buffered = run_pass(os.O_RDONLY, [0] * tasks)
    direct = None
    if hasattr(os, "O_DIRECT"):
        with contextlib.suppress(OSError):
            # probe: some filesystems refuse O_DIRECT outright — treat
            # refusal as "not permitted here" and report null
            probe = os.open(paths[0], os.O_RDONLY | os.O_DIRECT)
            try:
                pbuf = mmap.mmap(-1, BLOCK_SIZE)
                os.preadv(probe, [pbuf], 0)
                pbuf.close()
            finally:
                os.close(probe)
            counts = [0] * tasks
            got = run_pass(os.O_RDONLY | os.O_DIRECT, counts)
            direct = got if sum(counts) else None
    return buffered, direct


def run() -> dict:
    """The ``disk_path`` measurement."""
    write_buf, write_durable = bench_write()
    read_buf, read_direct = bench_read()
    shutil.rmtree(_DIR, ignore_errors=True)
    return {
        "write_mib_s": write_buf,
        "write_fsync_mib_s": write_durable,
        "read_mib_s": read_buf,
        "read_odirect_mib_s": read_direct,
        "tasks": TASKS,
        "block_kib": BLOCK_SIZE // 1024,
        "duration_secs": DURATION_SECS,
        "scope": "this host's filesystem + page cache (methodology parity "
        "with microbenchmarks/src/disk/{read,write}.rs, not hardware "
        "parity with the reference's RAID0); read_mib_s is a warm-cache "
        "ceiling, write_fsync_mib_s the durable floor",
    }


if __name__ == "__main__":
    import json

    print(json.dumps(run(), indent=1))
