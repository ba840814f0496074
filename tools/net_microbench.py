"""Loopback network-path throughput observables.

Mirrors the reference's network/HTTP microbenchmark semantics —
``microbenchmarks/src/http/client.rs:47-96`` (N parallel streams POSTing
fixed-size random-buffer chunks to a byte-sink server for a bounded
duration, 512 KiB blocks) and ``microbenchmarks/src/network/client.rs``
(the raw-TCP form of the same) — scaled to what this sandbox can honestly
measure: the 127.0.0.1 loopback.  The reference numbers characterize a
100 Gbps NIC + RAID0 ingest path; these characterize the local TCP/HTTP
stack ceiling the Spark engine's shuffle/fetch path shares on this host.
They are methodology parity, not hardware parity — the result keys are
``loopback_*`` so nobody reads them as NIC numbers.

Both benches: per-stream threads send the SAME pre-built block repeatedly
(reference: one random buffer per stream, re-chunked) until the deadline;
the sink counts bytes and discards.  Throughput = total received bytes /
wall-clock across the barrier-released window.
"""

from __future__ import annotations

import http.client
import http.server
import os
import socket
import socketserver
import threading
import time

#: 512 KiB — the reference client's default block size
#: (``http/client.rs:27``: size=512 KiB units).
BLOCK_SIZE = 512 * 1024
STREAMS = 4
DURATION_SECS = 1.2


def _block() -> bytes:
    return os.urandom(BLOCK_SIZE)


# --------------------------------------------------------------- raw TCP —
def bench_tcp(
    streams: int = STREAMS, duration: float = DURATION_SECS
) -> dict:
    """N parallel loopback TCP streams, duration-bounded, byte-sink server
    (``network/server.rs`` reads-and-discards; same here)."""
    received = [0] * streams
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(streams)
    port = srv.getsockname()[1]

    def sink(conn: socket.socket, idx: int) -> None:
        with conn:
            while True:
                chunk = conn.recv(1 << 20)
                if not chunk:
                    return
                received[idx] += len(chunk)

    def accept_loop() -> None:
        for i in range(streams):
            conn, _ = srv.accept()
            threading.Thread(target=sink, args=(conn, i), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()

    barrier = threading.Barrier(streams + 1)

    def client() -> None:
        block = _block()
        s = socket.create_connection(("127.0.0.1", port))
        barrier.wait()
        deadline = time.perf_counter() + duration
        while time.perf_counter() < deadline:
            s.sendall(block)
        s.close()

    threads = [threading.Thread(target=client) for _ in range(streams)]
    for t in threads:
        t.start()
    barrier.wait()
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    # wait for sinks to drain the tail
    time.sleep(0.05)
    secs = time.perf_counter() - t0
    srv.close()
    total = sum(received)
    return {
        "streams": streams,
        "secs": round(secs, 3),
        "gbytes": round(total / 1e9, 3),
        "gbps_bytes": round(total / 1e9 / secs, 2),
    }


# ------------------------------------------------------------------ HTTP —
class _SinkHandler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    received = 0
    _lock = threading.Lock()

    def do_POST(self) -> None:  # noqa: N802 (stdlib API name)
        n = int(self.headers.get("Content-Length", 0))
        remaining, got = n, 0
        while remaining > 0:
            chunk = self.rfile.read(min(1 << 20, remaining))
            if not chunk:
                break
            got += len(chunk)
            remaining -= len(chunk)
        with _SinkHandler._lock:
            _SinkHandler.received += got
        body = str(got).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence
        pass


def bench_http(
    streams: int = STREAMS, duration: float = DURATION_SECS
) -> dict:
    """N parallel loopback HTTP POST uploads (``http/client.rs`` semantics:
    duration-bounded re-sends of one random block per stream; the server
    counts and discards).  Fixed-size requests sized from a short
    calibration send keep the run inside the duration budget without
    chunked-encoding complexity."""

    class _Srv(socketserver.ThreadingMixIn, http.server.HTTPServer):
        daemon_threads = True

    _SinkHandler.received = 0
    srv = _Srv(("127.0.0.1", 0), _SinkHandler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    barrier = threading.Barrier(streams + 1)
    done = [0.0] * streams

    def client(idx: int) -> None:
        block = _block()
        conn = http.client.HTTPConnection("127.0.0.1", port)
        # calibration request: ~16 blocks, timed, to size the main uploads
        t0 = time.perf_counter()
        conn.request("POST", "/upload?file_name=cal", body=block * 16)
        conn.getresponse().read()
        per_block = max((time.perf_counter() - t0) / 16, 1e-6)
        blocks = max(1, int(duration / streams_factor / per_block))
        barrier.wait()
        deadline = time.perf_counter() + duration
        while time.perf_counter() < deadline:
            conn.request(
                "POST", "/upload?file_name=bench", body=block * min(blocks, 64)
            )
            conn.getresponse().read()
        done[idx] = time.perf_counter()
        conn.close()

    streams_factor = 4  # several requests per stream inside the window
    threads = [
        threading.Thread(target=client, args=(i,)) for i in range(streams)
    ]
    for t in threads:
        t.start()
    barrier.wait()
    _SinkHandler.received = 0  # exclude calibration bytes
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    secs = max(done) - t0
    srv.shutdown()
    total = _SinkHandler.received
    return {
        "streams": streams,
        "secs": round(secs, 3),
        "gbytes": round(total / 1e9, 3),
        "gbps_bytes": round(total / 1e9 / secs, 2),
    }


def run() -> dict:
    return {"loopback_tcp": bench_tcp(), "loopback_http": bench_http()}


if __name__ == "__main__":
    import json

    print(json.dumps(run(), indent=1))
