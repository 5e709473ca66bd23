"""Loopback HTTP origin for the live-fetch layer of the wave_bulk traced
run, run as its own process. It stands in for every host of the fixture
corpus: the page at ``https://<host>/<path>`` is served at
``/<host>/<path>`` (the way a forward proxy is addressed), every other
path is a 404, so no request ever leaves the loopback interface.

Every response is pre-rendered (status line, headers and body in one bytes
object) and sent with a single write on a socket with Nagle disabled: a
stock ``BaseHTTPRequestHandler`` writes headers and body separately, which
stalls every keep-alive request on Nagle plus delayed ACK. The origin
keeps at most as many connections open as it has cores (``nproc``): a new
one evicts the least recently used, which the client sees as a stale
keep-alive connection and recycles.

``GET /_stats`` returns the counters as JSON and is not counted itself.

    python3 crawlbench/origin.py --pages PAGES_PARQUET --port-file FILE
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import socket
from collections import OrderedDict

import pyarrow.parquet as pq


def _render(status: str, body: bytes) -> bytes:
    return (
        f"HTTP/1.1 {status}\r\nContent-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body


class Origin:
    def __init__(self, pages_path: str):
        t = pq.read_table(pages_path, columns=["url", "html"])
        self.responses: dict[bytes, bytes] = {}
        for url, html in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
            path = "/" + url.split("://", 1)[1]
            self.responses[path.encode("ascii")] = _render("200 OK", html)
        self.not_found = _render("404 Not Found", b"not found")
        self.max_conns = len(os.sched_getaffinity(0))
        self.open: OrderedDict[int, asyncio.Transport] = OrderedDict()
        self.stats = {"connections": 0, "requests": 0}

    def stats_response(self) -> bytes:
        body = json.dumps(self.stats).encode("ascii")
        return _render("200 OK", body)


class _Conn(asyncio.Protocol):
    def __init__(self, origin: Origin):
        self.origin = origin
        self.buf = b""
        self.counted = False

    def connection_made(self, transport):
        self.transport = transport
        sock = transport.get_extra_info("socket")
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        o = self.origin
        while len(o.open) >= o.max_conns:
            _, old = o.open.popitem(last=False)
            old.close()
        o.open[id(self)] = transport

    def connection_lost(self, exc):
        self.origin.open.pop(id(self), None)

    def data_received(self, data: bytes):
        o = self.origin
        self.buf += data
        while True:
            end = self.buf.find(b"\r\n\r\n")
            if end < 0:
                return
            head, self.buf = self.buf[:end], self.buf[end + 4:]
            line = head.split(b"\r\n", 1)[0]
            parts = line.split(b" ")
            path = parts[1] if len(parts) == 3 else b""
            if path == b"/_stats":
                self.transport.write(o.stats_response())
                continue
            if not self.counted:
                self.counted = True
                o.stats["connections"] += 1
            o.stats["requests"] += 1
            o.open.move_to_end(id(self))
            self.transport.write(o.responses.get(path, o.not_found))


async def _serve(args) -> None:
    origin = Origin(args.pages)
    loop = asyncio.get_running_loop()
    server = await loop.create_server(
        lambda: _Conn(origin), "127.0.0.1", 0, backlog=128
    )
    port = server.sockets[0].getsockname()[1]
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(port))
    os.rename(tmp, args.port_file)
    stop = loop.create_future()

    def on_stdin():
        if not os.read(0, 4096):  # EOF: the benchmark closed our stdin
            loop.remove_reader(0)
            stop.set_result(None)

    loop.add_reader(0, on_stdin)
    await stop
    server.close()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--port-file", required=True)
    asyncio.run(_serve(p.parse_args()))


if __name__ == "__main__":
    main()
