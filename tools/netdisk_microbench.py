"""Chained network→disk throughput observable (the reference harness's
network-to-disk path).

Mirrors ``microbenchmarks/src/network_disk/server.rs:61-115``: a TCP
receive loop (256-byte ``name|size`` header, then 256 KiB blocks) feeding
a BOUNDED channel drained by N parallel writer tasks that position-write
each chunk into one shared file opened with O_DIRECT. The reference's
point is that the two legs OVERLAP — receive keeps streaming while
writers drain — and that the bounded channel caps memory at
channel_size × block regardless of file size; this analogue measures the
same topology on the loopback + local filesystem (methodology parity,
not hardware parity with the reference's 100 Gbps NIC + RAID0 —
the result carries a ``scope`` note).

Reported legs:

- ``end_to_end_mib_s``: header byte → last chunk durable (fsync folded);
  the chained number the reference prints.
- ``recv_mib_s``: header byte → last socket byte received — the network
  leg's pace while writes proceed underneath.
- ``drain_tail_secs``: writers' lag after the socket closes (queue drain
  + fsync). Small tail = the legs genuinely overlapped; a tail ≈ the
  whole write time would mean store-then-write, not streaming.
- ``odirect``: whether the writers ran cache-bypassed (some filesystems
  refuse O_DIRECT; the buffered+fsync fallback is labeled).
"""

from __future__ import annotations

import contextlib
import mmap
import os
import queue
import shutil
import socket
import threading
import time

#: 256 KiB — the reference server's receive block
#: (``network_disk/server.rs:9``: BLOCK_SIZE = 256 * 1024).
BLOCK_SIZE = 256 * 1024
#: Bounded channel depth (``server.rs:61``: async_channel::bounded(4)) —
#: receive-side memory stays ≤ CHANNEL_SIZE × BLOCK_SIZE forever.
CHANNEL_SIZE = 4
#: Writer-task count (``server.rs`` Args.write default = 4).
WRITERS = 4
#: Transfer size: large enough to amortize connect/fsync, small enough
#: to stay polite (the O_DIRECT pass runs ~80 MiB/s here — same-file
#: concurrent O_DIRECT writes serialize on the inode on this host).
FILE_BYTES = 256 * 1024 * 1024
HEADER_BYTES = 256

_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "netdisk_microbench",
)


def _odirect_ok(path: str) -> bool:
    if not hasattr(os, "O_DIRECT"):
        return False
    with contextlib.suppress(OSError):
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_DIRECT, 0o644)
        try:
            buf = mmap.mmap(-1, BLOCK_SIZE)
            buf[:3] = b"abc"
            os.pwritev(fd, [buf], 0)
            buf.close()
        finally:
            os.close(fd)
        return True
    return False


def run_one(
    file_bytes: int = FILE_BYTES,
    writers: int = WRITERS,
    channel_size: int = CHANNEL_SIZE,
    want_odirect: bool = True,
) -> dict:
    """One chained transfer; returns one leg of the `run` result."""
    assert file_bytes % BLOCK_SIZE == 0, "keep chunks block-aligned"
    os.makedirs(_DIR, exist_ok=True)
    target = os.path.join(_DIR, "testfile")
    use_odirect = want_odirect and _odirect_ok(target)
    open_flags = os.O_WRONLY | os.O_CREAT
    if use_odirect:
        open_flags |= os.O_DIRECT

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    chan: queue.Queue = queue.Queue(maxsize=channel_size)
    recv_done = [0.0]
    write_done = [0.0]
    received = [0]

    writer_errors: list[str] = []

    def writer() -> None:
        fd = os.open(target, open_flags, 0o644)
        # O_DIRECT needs block-aligned user buffers; an anonymous mmap is
        # page-aligned, so copy each chunk in and pwritev at its offset
        # (the reference seeks the shared file per chunk the same way).
        buf = mmap.mmap(-1, BLOCK_SIZE)
        try:
            while True:
                item = chan.get()
                # task_done in a finally: a failed pwritev (EINVAL on a
                # non-sector-aligned O_DIRECT tail, ENOSPC, ...) must not
                # strand the item's join() accounting — the bench would
                # deadlock in chan.join(); instead the error is recorded,
                # the writer keeps draining, and run_one surfaces it.
                try:
                    if item is None:
                        return
                    offset, data = item
                    if not writer_errors:
                        buf[: len(data)] = data
                        os.pwritev(
                            fd, [memoryview(buf)[: len(data)]], offset
                        )
                except OSError as exc:
                    writer_errors.append(repr(exc))
                finally:
                    chan.task_done()
        finally:
            with contextlib.suppress(OSError):
                os.fsync(fd)
            buf.close()
            os.close(fd)

    def receiver() -> None:
        conn, _ = srv.accept()
        with conn:
            header = b""
            while len(header) < HEADER_BYTES:
                part = conn.recv(HEADER_BYTES - len(header))
                if not part:
                    return
                header += part
            name, size_s = header.rstrip(b"\0").decode().split("|")
            size = int(size_s)
            offset = 0
            block = bytearray(BLOCK_SIZE)
            while received[0] < size:
                want = min(BLOCK_SIZE, size - received[0])
                got = 0
                while got < want:
                    n = conn.recv_into(
                        memoryview(block)[got:want], want - got
                    )
                    if n == 0:
                        break
                    got += n
                if got == 0:
                    break
                chan.put((offset, bytes(block[:got])))
                offset += got
                received[0] += got
            recv_done[0] = time.perf_counter()

    wthreads = [threading.Thread(target=writer) for _ in range(writers)]
    rthread = threading.Thread(target=receiver)
    for t in wthreads:
        t.start()
    rthread.start()

    block = os.urandom(BLOCK_SIZE)
    cli = socket.create_connection(("127.0.0.1", port))
    header = f"bench.bin|{file_bytes}".encode().ljust(HEADER_BYTES, b"\0")
    t0 = time.perf_counter()
    cli.sendall(header)
    sent = 0
    while sent < file_bytes:
        cli.sendall(block)
        sent += BLOCK_SIZE
    cli.close()

    rthread.join()
    chan.join()
    for _ in wthreads:
        chan.put(None)
    chan.join()
    for t in wthreads:
        t.join()
    write_done[0] = time.perf_counter()
    srv.close()

    total = received[0]
    e2e = write_done[0] - t0
    recv_secs = recv_done[0] - t0
    on_disk = os.path.getsize(target)
    shutil.rmtree(_DIR, ignore_errors=True)
    return {
        "bytes": total,
        "bytes_on_disk": on_disk,
        "end_to_end_secs": round(e2e, 3),
        "end_to_end_mib_s": round(total / (1024 * 1024) / e2e, 1),
        "recv_mib_s": round(total / (1024 * 1024) / max(recv_secs, 1e-9), 1),
        "drain_tail_secs": round(write_done[0] - recv_done[0], 3),
        "writers": writers,
        "channel_size": channel_size,
        "block_kib": BLOCK_SIZE // 1024,
        "odirect": use_odirect,
        "writer_errors": writer_errors,
    }


def run() -> dict:
    """The ``network_disk_path`` measurement: the reference's
    O_DIRECT form plus a buffered(+fsync-in-writer-close) pass for
    context — on this host same-file concurrent O_DIRECT writes
    serialize on the inode, so the two differ by >10× and reporting only
    one would mislead either way."""
    direct = run_one(want_odirect=True)
    buffered = run_one(want_odirect=False)
    return {
        "odirect_pass": direct,
        "buffered_pass": buffered,
        "scope": "loopback TCP → bounded queue → parallel position "
        "writers into one shared file (methodology parity with "
        "microbenchmarks/src/network_disk/server.rs:61-115, not hardware "
        "parity with its 100 Gbps NIC + RAID0); memory bounded at "
        "channel_size × block regardless of transfer size; drain_tail ≪ "
        "end_to_end shows the receive and write legs genuinely overlap",
    }


if __name__ == "__main__":
    import json

    print(json.dumps(run(), indent=1))
