"""Minimal PostgreSQL v3 simple-query client.

Speaks the same protocol steps as ``yupana_spark.server.pgwire.loopback_check``
(SSLRequest probe, StartupMessage, clear-text password, simple Query) and
records, per query, when the query was sent, when the first ``DataRow``
arrived and when ``ReadyForQuery`` arrived, plus the rows and bytes received.
Values are decoded from the text format by type OID.
"""

from __future__ import annotations

import datetime as dt
import socket
import struct
import time
from dataclasses import dataclass, field
from typing import Any, List, Optional

_INT_OIDS = {20, 21, 23}
_FLOAT_OIDS = {700, 701}
_NUMERIC_OID = 1700
_BOOL_OID = 16
_TIMESTAMP_OID = 1114


@dataclass
class Result:
    """One simple query's outcome; times are ``time.time()`` seconds."""

    t_send: float
    t_first_row: Optional[float] = None
    t_ready: float = 0.0
    columns: List[str] = field(default_factory=list)
    rows: List[tuple] = field(default_factory=list)
    bytes_received: int = 0
    error: Optional[str] = None

    @property
    def latency_ms(self) -> float:
        return (self.t_ready - self.t_send) * 1000.0


def _decode(raw: bytes, oid: int) -> Any:
    s = raw.decode()
    if oid in _INT_OIDS:
        return int(s)
    if oid in _FLOAT_OIDS or oid == _NUMERIC_OID:
        return float(s)
    if oid == _BOOL_OID:
        return s == "t"
    if oid == _TIMESTAMP_OID:
        return dt.datetime.fromisoformat(s)
    return s


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgClient:
    """One connection.  ``query`` is not thread-safe; use one client per
    thread."""

    def __init__(self, port: int, host: str = "127.0.0.1",
                 timeout: float = 120.0, user: str = "bench"):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.backend_key: Optional[tuple] = None
        try:
            self._handshake(user)
        except BaseException:
            self.sock.close()
            raise

    # -- framing -----------------------------------------------------------
    def _read_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _read_msg(self):
        head = self._read_exact(5)
        (ln,) = struct.unpack("!I", head[1:])
        return head[:1], self._read_exact(ln - 4)

    def _send(self, tag: bytes, body: bytes) -> None:
        self.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def _handshake(self, user: str) -> None:
        self.sock.sendall(struct.pack("!II", 8, 80877103))     # SSLRequest
        if self._read_exact(1) != b"N":
            raise ConnectionError("server accepted SSL; plain only")
        body = (struct.pack("!I", 196608) + _cstr("user") + _cstr(user)
                + _cstr("database") + _cstr("yupana") + b"\x00")
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._read_msg()
            if tag == b"R":
                (code,) = struct.unpack_from("!I", payload)
                if code == 3:                   # clear-text password
                    self._send(b"p", _cstr("bench"))
                elif code != 0:
                    raise ConnectionError(f"unsupported auth code {code}")
            elif tag == b"K":
                self.backend_key = struct.unpack("!II", payload)
            elif tag == b"E":
                raise ConnectionError(_error_text(payload))
            elif tag == b"Z":
                return

    # -- queries -----------------------------------------------------------
    def query(self, sql: str) -> Result:
        """Run one simple query; protocol errors raise, an ``ErrorResponse``
        is returned in ``Result.error``."""
        res = Result(t_send=time.time())
        self._send(b"Q", _cstr(sql))
        oids: List[int] = []
        while True:
            tag, payload = self._read_msg()
            res.bytes_received += 5 + len(payload)
            if tag == b"D":
                if res.t_first_row is None:
                    res.t_first_row = time.time()
                res.rows.append(_data_row(payload, oids))
            elif tag == b"T":
                res.columns, oids = _row_description(payload)
            elif tag == b"E":
                res.error = _error_text(payload)
            elif tag == b"Z":
                res.t_ready = time.time()
                return res

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        except OSError:
            pass
        self.sock.close()


def _row_description(payload: bytes):
    (n,) = struct.unpack_from("!H", payload)
    pos, names, oids = 2, [], []
    for _ in range(n):
        end = payload.index(b"\x00", pos)
        names.append(payload[pos:end].decode())
        _tbl, _col, oid, _sz, _mod, _fmt = struct.unpack_from(
            "!IHIhih", payload, end + 1)
        oids.append(oid)
        pos = end + 1 + 18
    return names, oids


def _data_row(payload: bytes, oids: List[int]) -> tuple:
    (n,) = struct.unpack_from("!H", payload)
    pos, out = 2, []
    for i in range(n):
        (ln,) = struct.unpack_from("!i", payload, pos)
        pos += 4
        if ln < 0:
            out.append(None)
            continue
        out.append(_decode(payload[pos:pos + ln],
                           oids[i] if i < len(oids) else 0))
        pos += ln
    return tuple(out)


def _error_text(payload: bytes) -> str:
    fields = {}
    for part in payload.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode("utf-8", "replace")
    return fields.get(b"M", "error")
