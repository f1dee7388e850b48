"""Clients for the two wires and the checks on what they return.

``HttpClient`` keeps one keep-alive connection, as ClickHouse drivers
do. ``NativeClient`` speaks the native TCP protocol at revision 54468
without compression, the packet layout clickhouse-driver uses.
"""

from __future__ import annotations

import datetime
import http.client
import json
import math
import socket
import struct
import urllib.parse

REVISION = 54468
TIMEOUT_S = 120


class WireError(Exception):
    pass


class HttpClient:
    def __init__(self, port: int):
        self.port = port
        self.conn: http.client.HTTPConnection | None = None

    def query(self, sql: str, body: bytes | None = None, query_id: str = "") -> bytes:
        """GET ``sql`` (or POST ``body`` after it); the response body."""
        params = {"query": sql}
        if query_id:
            params["query_id"] = query_id
        path = "/?" + urllib.parse.urlencode(params)
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=TIMEOUT_S)
            try:
                if body is None:
                    self.conn.request("GET", path)
                else:
                    self.conn.request("POST", path, body=body)
                resp = self.conn.getresponse()
                data = resp.read()
            except (http.client.RemoteDisconnected, BrokenPipeError, ConnectionResetError):
                # the server closed an idle keep-alive connection
                self.close()
                if attempt:
                    raise
                continue
            if resp.status != 200:
                raise WireError(f"HTTP {resp.status}: {data[:300]!r}")
            return data
        raise AssertionError("unreachable")

    def ping(self) -> bool:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=2)
            try:
                conn.request("GET", "/ping")
                return conn.getresponse().read() == b"Ok\n"
            finally:
                conn.close()
        except OSError:
            return False

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _str(s: str) -> bytes:
    b = s.encode()
    return _varint(len(b)) + b


_FIXED = {
    "Int8": "b", "Int16": "h", "Int32": "i", "Int64": "q",
    "UInt8": "B", "UInt16": "H", "UInt32": "I", "UInt64": "Q",
    "Float32": "f", "Float64": "d", "Bool": "B",
}
_EPOCH = datetime.date(1970, 1, 1)


class NativeClient:
    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=TIMEOUT_S)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rf = self.sock.makefile("rb")
        self.sock.sendall(
            _varint(0) + _str("perfbench") + _varint(25) + _varint(5) + _varint(REVISION)
            + _str("") + _str("default") + _str("")
        )
        if self._varint() != 0:
            raise WireError("no server hello")
        self._str()  # server name
        self._varint(), self._varint()
        rev = min(self._varint(), REVISION)
        self._str()  # timezone
        self._str()  # display name
        self._varint()  # patch
        if rev >= 54461:
            self._varint()  # password complexity rules
        if rev >= 54462:
            self._need(8)  # nonce
        self.local_port = self.sock.getsockname()[1]

    def _need(self, n: int) -> bytes:
        b = self.rf.read(n)
        if len(b) != n:
            raise WireError("server closed the connection")
        return b

    def _varint(self) -> int:
        shift = n = 0
        while True:
            b = self._need(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def _str(self) -> str:
        return self._need(self._varint()).decode()

    def query(self, sql: str, query_id: str = "") -> tuple[list[str], list[list]]:
        """Run ``sql``; (column names, column value lists)."""
        self.sock.sendall(
            _varint(1) + _str(query_id) + bytes([1]) + _str("") + _str("") + _str("0.0.0.0:0")
            + struct.pack("<Q", 0) + bytes([1]) + _str("bench") + _str("localhost")
            + _str("perfbench") + _varint(25) + _varint(5) + _varint(REVISION)
            + _str("") + _varint(0)  # quota key, distributed depth
            + _str("")  # end of settings
            + _str("")  # interserver secret
            + _varint(2) + _varint(0) + _str(sql)  # stage complete, no compression
            + _str("")  # end of parameters
        )
        names: list[str] = []
        cols: list[list] = []
        while True:
            kind = self._varint()
            if kind == 1:  # DATA
                self._str()
                while (field := self._varint()) != 0:  # BlockInfo
                    self._need(1 if field == 1 else 4)
                n_cols, n_rows = self._varint(), self._varint()
                block_names, block_cols = [], []
                for _ in range(n_cols):
                    block_names.append(self._str())
                    ch_type = self._str()
                    self._need(1)  # custom serialization flag
                    block_cols.append(self._column(ch_type, n_rows))
                if not names:
                    names, cols = block_names, block_cols
                else:
                    for c, vals in zip(cols, block_cols):
                        c.extend(vals)
            elif kind == 5:  # END_OF_STREAM
                return names, cols
            elif kind == 2:  # EXCEPTION
                raise WireError(self._str())
            else:
                raise WireError(f"unexpected packet {kind}")

    def _column(self, ch_type: str, n: int) -> list:
        if ch_type.startswith("Nullable("):
            nulls = self._need(n)
            vals = self._column(ch_type[9:-1], n)
            return [None if z else v for z, v in zip(nulls, vals)]
        code = _FIXED.get(ch_type)
        if code is not None:
            return list(struct.unpack(f"<{n}{code}", self._need(n * struct.calcsize(code))))
        if ch_type == "String":
            return [self._need(self._varint()).decode() for _ in range(n)]
        if ch_type == "Date":
            days = struct.unpack(f"<{n}H", self._need(2 * n))
            return [_EPOCH + datetime.timedelta(days=d) for d in days]
        if ch_type == "DateTime":
            secs = struct.unpack(f"<{n}I", self._need(4 * n))
            return [datetime.datetime.fromtimestamp(s, datetime.timezone.utc).replace(tzinfo=None) for s in secs]
        raise WireError(f"column type {ch_type} is not decoded by this client")

    def close(self) -> None:
        try:
            self.rf.close()
            self.sock.close()
        except OSError:
            pass


# ------------------------------------------------------------ checks


def _unescape_tsv(cell: str) -> str:
    if "\\" not in cell:
        return cell
    out, i = [], 0
    table = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\", "0": "\0", "'": "'", "b": "\b", "f": "\f"}
    while i < len(cell):
        ch = cell[i]
        if ch == "\\" and i + 1 < len(cell):
            out.append(table.get(cell[i + 1], cell[i + 1]))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def rows_from_tsv(body: bytes) -> list[list]:
    text = body.decode()
    if not text:
        return []
    return [[_unescape_tsv(c) for c in line.split("\t")] for line in text.rstrip("\n").split("\n")]


def rows_from_json_each_row(body: bytes) -> list[list]:
    return [list(json.loads(line).values()) for line in body.splitlines() if line]


def rows_from_columns(cols: list[list]) -> list[list]:
    return [list(r) for r in zip(*cols)]


def _cell_equal(expected, actual) -> bool:
    if expected is None:
        return actual in (None, "\\N", "NULL", "null")
    if isinstance(expected, bool):
        return str(actual).lower() in (("1", "true") if expected else ("0", "false"))
    if isinstance(expected, int):
        try:
            return int(actual) == expected
        except (TypeError, ValueError):
            return False
    if isinstance(expected, float):
        try:
            a = float(actual)
        except (TypeError, ValueError):
            return False
        return math.isclose(a, expected, rel_tol=1e-6, abs_tol=1e-6)
    return str(actual) == expected


def rows_match(expected: list[list], actual: list[list]) -> bool:
    """Typed comparison of a result with its oracle, row by row."""
    if len(expected) != len(actual):
        return False
    for er, ar in zip(expected, actual):
        if len(er) != len(ar) or not all(_cell_equal(e, a) for e, a in zip(er, ar)):
            return False
    return True
