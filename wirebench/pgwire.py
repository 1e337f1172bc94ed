"""Blocking PostgreSQL v3 wire client for the benchmark.

Speaks the simple protocol, the extended protocol (Parse/Bind/Describe/
Execute with a portal row limit, text or binary results), COPY TO STDOUT
and COPY FROM STDIN. Every call returns a ``Reply`` holding the raw
row payloads plus three client-side timestamps: send, first row
(``DataRow`` or ``CopyData``) and ``ReadyForQuery``. Decoding happens
later, outside the timed window (see ``oracle.py``).
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field

_I32 = struct.Struct("!i")
_U32 = struct.Struct("!I")
_H = struct.Struct("!H")
_RECV = 1 << 18
_SYNC = b"S\x00\x00\x00\x04"
_FLUSH = b"H\x00\x00\x00\x04"


class WireError(Exception):
    pass


@dataclass
class Reply:
    """One statement's answer as the client saw it."""

    tag: str | None = None
    error: str | None = None
    sqlstate: str | None = None
    oids: list[int] = field(default_factory=list)
    binary: bool = False
    rows: list[bytes] = field(default_factory=list)  # DataRow payloads
    copy: list[bytes] = field(default_factory=list)  # CopyData payloads
    t_send: float = 0.0
    t_first: float | None = None
    t_done: float = 0.0
    busy_s: float = 0.0  # client CPU spent framing this reply

    @property
    def elapsed(self) -> float:
        return self.t_done - self.t_send

    @property
    def nrows(self) -> int:
        if self.copy:
            return sum(c.count(b"\n") for c in self.copy)
        return len(self.rows)


def _msg(tag: bytes, body: bytes) -> bytes:
    return tag + _U32.pack(len(body) + 4) + body


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgConn:
    """One client connection; not thread-safe."""

    def __init__(self, host: str, port: int, timeout: float = 120.0) -> None:
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        self._pos = 0
        body = _U32.pack(196608) + _cstr("user") + _cstr("bench")
        body += _cstr("database") + _cstr("main") + b"\x00"
        self.sock.sendall(_U32.pack(len(body) + 4) + body)
        while True:
            tag, payload = self._read()
            if tag == b"E":
                raise WireError(_error_text(payload)[0])
            if tag == b"Z":
                break

    def close(self) -> None:
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()

    # --------------------------------------------------------- framing
    def _fill(self, need: int) -> None:
        buf = self._buf
        if self._pos:
            del buf[: self._pos]
            self._pos = 0
        while len(buf) < need:
            chunk = self.sock.recv(max(_RECV, need - len(buf)))
            if not chunk:
                raise WireError("server closed the connection")
            buf += chunk

    def _read(self) -> tuple[bytes, bytes]:
        if len(self._buf) - self._pos < 5:
            self._fill(5)
        p = self._pos
        ln = _U32.unpack_from(self._buf, p + 1)[0]
        if len(self._buf) - p < ln + 1:
            self._fill(ln + 1)
            p = 0
        tag = bytes(self._buf[p : p + 1])
        payload = bytes(self._buf[p + 5 : p + 1 + ln])
        self._pos = p + 1 + ln
        return tag, payload

    def _collect(self, rep: Reply, stop: tuple[bytes, ...] = (b"Z",)) -> bytes:
        """Read messages into ``rep`` until one tagged in ``stop``; returns
        that tag."""
        c0 = time.thread_time()
        rows, copy = rep.rows, rep.copy
        while True:
            tag, body = self._read()
            if tag == b"D":
                if rep.t_first is None:
                    rep.t_first = time.perf_counter()
                rows.append(body)
            elif tag == b"d":
                if rep.t_first is None:
                    rep.t_first = time.perf_counter()
                copy.append(body)
            elif tag == b"T":
                rep.oids = _row_oids(body)
            elif tag == b"C":
                rep.tag = body.rstrip(b"\x00").decode()
            elif tag == b"E":
                rep.error, rep.sqlstate = _error_text(body)
            if tag in stop:
                rep.busy_s += time.thread_time() - c0
                return tag

    # ------------------------------------------------------ simple query
    def query(self, sql: str) -> Reply:
        rep = Reply()
        rep.t_send = time.perf_counter()
        self.sock.sendall(_msg(b"Q", _cstr(sql)))
        self._collect(rep)
        rep.t_done = time.perf_counter()
        return rep

    def copy_in(self, sql: str, data: bytes, chunk: int = 1 << 16) -> Reply:
        """``COPY … FROM STDIN`` with ``data`` sent as CopyData frames."""
        rep = Reply()
        rep.t_send = time.perf_counter()
        self.sock.sendall(_msg(b"Q", _cstr(sql)))
        while True:
            tag, body = self._read()
            if tag == b"G":
                break
            if tag == b"E":
                rep.error, rep.sqlstate = _error_text(body)
                self._collect(rep)
                rep.t_done = time.perf_counter()
                return rep
        frames = [
            _msg(b"d", data[i : i + chunk]) for i in range(0, len(data), chunk)
        ]
        self.sock.sendall(b"".join(frames) + _msg(b"c", b""))
        self._collect(rep)
        rep.t_done = time.perf_counter()
        return rep

    # ---------------------------------------------------- extended query
    def fetch(self, sql: str, binary: bool, maxrows: int) -> Reply:
        """Unnamed Parse + Bind (result format) + Describe + Execute with a
        portal row limit, one more Execute per PortalSuspended, then Sync."""
        rep = Reply(binary=binary)
        bind = b"\x00\x00" + _H.pack(0) + _H.pack(0) + _H.pack(1) + _H.pack(int(binary))
        execute = _msg(b"E", b"\x00" + _I32.pack(maxrows))
        out = (_msg(b"P", b"\x00" + _cstr(sql) + _H.pack(0)) + _msg(b"B", bind)
               + _msg(b"D", b"P\x00") + execute)
        rep.t_send = time.perf_counter()
        self.sock.sendall(out + _FLUSH)
        while self._collect(rep, (b"s", b"C", b"E")) == b"s":
            self.sock.sendall(execute + _FLUSH)
        self.sock.sendall(_SYNC)
        self._collect(rep)
        rep.t_done = time.perf_counter()
        return rep


def _row_oids(body: bytes) -> list[int]:
    """Type OIDs of a RowDescription's fields."""
    (n,) = _H.unpack_from(body, 0)
    off, oids = 2, []
    for _ in range(n):
        off = body.index(b"\x00", off) + 1  # skip the field name
        oids.append(_U32.unpack_from(body, off + 6)[0])
        off += 18
    return oids


def _error_text(body: bytes) -> tuple[str, str | None]:
    fields = {}
    for part in body.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return fields.get(b"M", "?"), fields.get(b"C")
