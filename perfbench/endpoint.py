"""Webhook capture endpoint, run as its own process.

Per POST it only stamps the receipt time, counts, keeps the raw body and
replies; bodies are parsed by the benchmark after the run. Keep-alive
HTTP/1.1 on asyncio streams, so one process serves every pooled client
connection without a thread per request.

    python3 perfbench/endpoint.py [--fault-every N --fault-seed S] [--drop-every K]

prints ``port <n>`` on its first stdout line, then serves until killed.

- ``--fault-every N``: a body whose ``crc32(body, S) % N == 0`` gets a
  503 on its first attempt (a seeded slice of about 1 in N records).
- ``--drop-every K``: acknowledge every K-th delivery with 200 but
  discard it — a deliberately broken sink for the benchmark's self-test.

``GET /stats`` returns the counters and the process CPU time;
``GET /dump`` returns them plus every delivery as ``[t, body]``.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import time
import zlib

_OK = b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n"
_UNAVAILABLE = b"HTTP/1.1 503 Service Unavailable\r\nContent-Length: 0\r\n\r\n"


class Capture:
    def __init__(self, fault_every: int, fault_seed: int, drop_every: int) -> None:
        self.fault_every = fault_every
        self.fault_seed = fault_seed
        self.drop_every = drop_every
        self.deliveries: list[tuple[float, bytes]] = []
        self.failed_once: set[bytes] = set()
        self.posts = 0
        self.retries = 0
        self.dropped = 0
        self.connections = 0

    def receive(self, t: float, body: bytes) -> bytes:
        self.posts += 1
        if (
            self.fault_every
            and zlib.crc32(body, self.fault_seed) % self.fault_every == 0
            and body not in self.failed_once
        ):
            self.failed_once.add(body)
            self.retries += 1
            return _UNAVAILABLE
        if self.drop_every and self.posts % self.drop_every == 0:
            self.dropped += 1
        else:
            self.deliveries.append((t, body))
        return _OK

    def stats(self) -> dict:
        return {
            "posts": self.posts,
            "delivered": len(self.deliveries),
            "retries": self.retries,
            "dropped": self.dropped,
            "connections": self.connections,
            "first_t": self.deliveries[0][0] if self.deliveries else None,
            "last_t": self.deliveries[-1][0] if self.deliveries else None,
            "cpu_s": time.process_time(),
            "wall_t": time.time(),
        }

    def get(self, path: bytes) -> bytes:
        body = self.stats()
        if path.startswith(b"/dump"):
            body["deliveries"] = [[t, b.decode("utf-8")] for t, b in self.deliveries]
        data = json.dumps(body).encode("utf-8")
        return b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\nContent-Length: %d\r\n\r\n%s" % (
            len(data), data)

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        posted = False
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                request_line, _, headers = head.partition(b"\r\n")
                method, path, _ = request_line.split(b" ", 2)
                length = 0
                for line in headers.split(b"\r\n"):
                    if line[:15].lower() == b"content-length:":
                        length = int(line[15:])
                body = await reader.readexactly(length) if length else b""
                if method == b"POST":
                    if not posted:  # count delivery connections, not stats polls
                        posted = True
                        self.connections += 1
                    writer.write(self.receive(time.time(), body))
                else:
                    writer.write(self.get(path))
                await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


async def _serve(capture: Capture) -> None:
    server = await asyncio.start_server(capture.handle, "127.0.0.1", 0, backlog=256)
    port = server.sockets[0].getsockname()[1]
    print(f"port {port}", flush=True)
    async with server:
        await server.serve_forever()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fault-every", type=int, default=0)
    ap.add_argument("--fault-seed", type=int, default=0)
    ap.add_argument("--drop-every", type=int, default=0)
    args = ap.parse_args()
    asyncio.run(_serve(Capture(args.fault_every, args.fault_seed, args.drop_every)))


if __name__ == "__main__":
    main()
