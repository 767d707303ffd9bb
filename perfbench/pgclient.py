"""Frame-level PostgreSQL protocol v3 client for the load generator.

Speaks the simple protocol, the extended protocol (Parse/Bind/Describe/
Execute/Sync with ``$n`` text parameters and text or binary results), and
the COPY sub-protocols in both directions. Every call returns a
``Reply`` with the raw rows and the client-side timings the benchmark
reports: latency to the first DataRow, total latency, and the time the
client itself spent parsing frames (``decode_s``), which is kept apart so
it is never charged to the server.
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field

PROTOCOL_V3 = 196608
_RECV = 1 << 20


@dataclass
class Reply:
    cols: list = field(default_factory=list)      # (name, type_oid, fmt)
    rows: list = field(default_factory=list)      # list of DataRow payloads
    tags: list = field(default_factory=list)
    error: dict | None = None                     # {"C": sqlstate, ...}
    copy_data: list = field(default_factory=list)
    first_row_s: float | None = None
    total_s: float = 0.0
    decode_s: float = 0.0
    bytes_in: int = 0
    row_bytes: int = 0

    @property
    def sqlstate(self) -> str | None:
        return self.error.get("C") if self.error else None

    @property
    def n_rows(self) -> int:
        return len(self.rows) if self.rows else len(self.copy_data)


def decode_row(payload: bytes) -> list:
    """DataRow payload -> list of bytes|None column values."""
    (n,) = struct.unpack_from("!H", payload, 0)
    off, out = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, off)
        off += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(payload[off:off + ln])
            off += ln
    return out


def _frame(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("!I", len(body) + 4) + body


class PgConnection:
    """One client connection. Not thread-safe: one per simulated client."""

    def __init__(self, host: str, port: int, user: str = "postgres",
                 timeout: float = 170.0):
        t0 = time.perf_counter()
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.pos = 0
        self._wait = 0.0
        body = struct.pack("!I", PROTOCOL_V3)
        body += b"user\x00" + user.encode() + b"\x00"
        body += b"database\x00postgres\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        reply = self._collect(t0)
        if reply.error:
            self.sock.close()
            raise ConnectionError(f"startup failed: {reply.error}")
        self.connect_s = reply.total_s

    # -- framing -----------------------------------------------------------
    def _fill(self) -> None:
        t = time.perf_counter()
        chunk = self.sock.recv(_RECV)
        self._wait += time.perf_counter() - t
        if not chunk:
            raise ConnectionError("server closed the connection")
        if self.pos > _RECV:
            del self.buf[:self.pos]
            self.pos = 0
        self.buf += chunk

    def _read(self) -> tuple[bytes, bytes]:
        while len(self.buf) - self.pos < 5:
            self._fill()
        tag = self.buf[self.pos:self.pos + 1]
        (length,) = struct.unpack_from("!I", self.buf, self.pos + 1)
        end = self.pos + 1 + length
        while len(self.buf) < end:
            self._fill()
        payload = bytes(self.buf[self.pos + 5:end])
        self.pos = end
        return bytes(tag), payload

    def _collect(self, t0: float, copy_in: bytes | None = None) -> Reply:
        """Read messages until ReadyForQuery; t0 is when the request was
        sent."""
        self._wait = 0.0
        r = Reply()
        while True:
            tag, payload = self._read()
            r.bytes_in += len(payload) + 5
            if tag == b"D":
                if r.first_row_s is None:
                    r.first_row_s = time.perf_counter() - t0
                r.rows.append(payload)
                r.row_bytes += len(payload)
            elif tag == b"d":
                if r.first_row_s is None:
                    r.first_row_s = time.perf_counter() - t0
                r.copy_data.append(payload)
                r.row_bytes += len(payload)
            elif tag == b"T":
                (n,) = struct.unpack_from("!H", payload, 0)
                off = 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    name = payload[off:end].decode()
                    oid, fmt = struct.unpack_from("!6xI6xh", payload, end + 1)
                    r.cols.append((name, oid, fmt))
                    off = end + 19
            elif tag == b"C":
                r.tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"E":
                r.error = {p[:1].decode(): p[1:].decode("utf-8", "replace")
                           for p in payload.split(b"\x00") if p}
            elif tag == b"G":
                self._send_copy_in(copy_in or b"")
            elif tag == b"Z":
                r.total_s = time.perf_counter() - t0
                r.decode_s = max(r.total_s - self._wait, 0.0)
                return r

    def _send_copy_in(self, data: bytes) -> None:
        out = bytearray()
        for i in range(0, len(data), 1 << 16):
            out += _frame(b"d", data[i:i + (1 << 16)])
        out += _frame(b"c", b"")
        self.sock.sendall(out)

    # -- requests ----------------------------------------------------------
    def simple(self, sql: str, copy_in: bytes | None = None) -> Reply:
        t0 = time.perf_counter()
        self.sock.sendall(_frame(b"Q", sql.encode() + b"\x00"))
        return self._collect(t0, copy_in)

    def extended(self, sql: str, params: list, binary: bool = False) -> Reply:
        """Unnamed statement + portal, text parameters, one Sync."""
        bind = b"\x00\x00" + struct.pack("!HH", 0, len(params))
        for p in params:
            if p is None:
                bind += struct.pack("!i", -1)
            else:
                b = str(p).encode()
                bind += struct.pack("!I", len(b)) + b
        bind += struct.pack("!HH", 1, 1 if binary else 0)
        msg = (_frame(b"P", b"\x00" + sql.encode() + b"\x00\x00\x00")
               + _frame(b"B", bind)
               + _frame(b"D", b"P\x00")
               + _frame(b"E", b"\x00" + struct.pack("!I", 0))
               + _frame(b"S", b""))
        t0 = time.perf_counter()
        self.sock.sendall(msg)
        return self._collect(t0)

    def close(self) -> None:
        try:
            self.sock.sendall(_frame(b"X", b""))
        except OSError:
            pass
        self.sock.close()
