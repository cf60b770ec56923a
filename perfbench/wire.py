"""The benchmark's own ClickHouse client codecs.

A minimal native-TCP client (Hello, Query, Data blocks, EndOfStream,
no compression) and decoders for the Native and RowBinary result
formats. They follow the public protocol description and share no code
with the program under test, so a result the server encodes wrongly
fails the benchmark's correctness check instead of being decoded by
the same bug.
"""

from __future__ import annotations

import socket
import struct

import numpy as np

CLIENT_REVISION = 54429
BLOCK_INFO = b"\x01\x00\x02" + struct.pack("<i", -1) + b"\x00"
_FIXED = {
    "Int8": "<i1", "Int16": "<i2", "Int32": "<i4", "Int64": "<i8",
    "UInt8": "<u1", "UInt16": "<u2", "UInt32": "<u4", "UInt64": "<u8",
    "Float32": "<f4", "Float64": "<f8", "Date": "<u2", "Date32": "<i4",
    "DateTime64(6)": "<i8",
}


def leb(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def lstr(v: str) -> bytes:
    b = v.encode()
    return leb(len(b)) + b


class Reader:
    """Cursor over a bytes buffer, or over a socket stream when
    ``fill`` is given (called with a byte count it must add)."""

    def __init__(self, buf: bytes = b"", fill=None) -> None:
        self.buf = bytearray(buf)
        self.pos = 0
        self.fill = fill

    def need(self, n: int) -> None:
        while len(self.buf) - self.pos < n:
            if self.fill is None:
                raise ValueError("truncated payload")
            if self.pos > (1 << 20):
                del self.buf[:self.pos]
                self.pos = 0
            self.fill(self.buf, n - (len(self.buf) - self.pos))

    def exact(self, n: int) -> bytes:
        self.need(n)
        out = bytes(self.buf[self.pos:self.pos + n])
        self.pos += n
        return out

    def u8(self) -> int:
        self.need(1)
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def varint(self) -> int:
        shift = n = 0
        while True:
            b = self.u8()
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def string(self) -> str:
        return self.exact(self.varint()).decode("utf-8")

    def at_end(self) -> bool:
        return self.fill is None and self.pos >= len(self.buf)


def _strip(t: str, wrapper: str) -> str | None:
    if t.startswith(wrapper + "(") and t.endswith(")"):
        return t[len(wrapper) + 1:-1]
    return None


def read_column(r: Reader, t: str, n: int) -> list:
    """One Native column of ``n`` values, as Python values."""
    inner = _strip(t, "Nullable")
    if inner is not None:
        nulls = r.exact(n)
        vals = read_column(r, inner, n)
        return [None if nulls[i] else vals[i] for i in range(n)]
    if t in _FIXED:
        dt = np.dtype(_FIXED[t])
        return np.frombuffer(r.exact(dt.itemsize * n), dtype=dt).tolist()
    if t == "String":
        return [r.string() for _ in range(n)]
    raise ValueError(f"Native column type {t!r} is not decoded here")


def read_block(r: Reader) -> tuple[list[str], list[str], list[list]]:
    """BlockInfo-prefixed Native block -> (names, types, columns)."""
    while True:
        field = r.varint()
        if field == 0:
            break
        r.exact(1 if field == 1 else 4)
    return read_plain_block(r)


def read_plain_block(r: Reader) -> tuple[list[str], list[str], list[list]]:
    ncols, nrows = r.varint(), r.varint()
    names, types, columns = [], [], []
    for _ in range(ncols):
        names.append(r.string())
        types.append(r.string())
        columns.append(read_column(r, types[-1], nrows))
    return names, types, columns


def decode_native(body: bytes) -> tuple[list[str], list[list]]:
    """HTTP ``FORMAT Native``: concatenated blocks without BlockInfo."""
    r = Reader(body)
    names: list[str] = []
    columns: list[list] = []
    while not r.at_end():
        n, _t, cols = read_plain_block(r)
        if not names:
            names, columns = n, [[] for _ in n]
        for acc, c in zip(columns, cols):
            acc.extend(c)
    return names, columns


def _rb_value(r: Reader, t: str):
    inner = _strip(t, "Nullable")
    if inner is not None:
        return None if r.u8() else _rb_value(r, inner)
    if t in _FIXED:
        dt = np.dtype(_FIXED[t])
        return np.frombuffer(r.exact(dt.itemsize), dtype=dt)[0].item()
    if t == "String":
        return r.string()
    raise ValueError(f"RowBinary type {t!r} is not decoded here")


def decode_rowbinary(body: bytes, types: list[str]) -> list[list]:
    """Plain ``FORMAT RowBinary`` against the expected column types."""
    r = Reader(body)
    cols: list[list] = [[] for _ in types]
    while not r.at_end():
        for acc, t in zip(cols, types):
            acc.append(_rb_value(r, t))
    return cols


def encode_rowbinary(columns: list[tuple[str, list]]) -> bytes:
    """RowBinary rows from (type, values) columns of fixed-width or
    String types — what the insert batches carry."""
    n = len(columns[0][1])
    out = bytearray()
    packers = []
    for t, vals in columns:
        if t == "String":
            packers.append([lstr(v) for v in vals])
        else:
            packers.append(
                np.asarray(vals, dtype=_FIXED[t]).tobytes()
            )
    widths = [
        None if t == "String" else np.dtype(_FIXED[t]).itemsize
        for t, _ in columns
    ]
    for i in range(n):
        for p, w in zip(packers, widths):
            out += p[i] if w is None else p[i * w:(i + 1) * w]
    return bytes(out)


class NativeClient:
    """Native-protocol client without compression."""

    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.r = Reader(fill=self._fill)
        self.sock.sendall(
            leb(0) + lstr("perfbench") + leb(23) + leb(8)
            + leb(CLIENT_REVISION) + lstr("default") + lstr("default")
            + lstr("")
        )
        ptype = self.r.varint()
        if ptype == 2:
            raise RuntimeError(self._exception())
        if ptype != 0:
            raise RuntimeError(f"expected Hello, got packet {ptype}")
        self.r.string()  # server name
        self.r.varint()  # major
        self.r.varint()  # minor
        rev = self.r.varint()
        self.revision = min(rev, CLIENT_REVISION)
        self.r.string()  # timezone (rev >= 54058)
        self.r.string()  # display name (rev >= 54372)
        self.r.varint()  # patch (rev >= 54401)

    def _fill(self, buf: bytearray, want: int) -> None:
        chunk = self.sock.recv(max(want, 1 << 18))
        if not chunk:
            raise ConnectionError("server closed the connection")
        buf += chunk

    def _exception(self) -> str:
        self.r.exact(4)  # code
        self.r.string()  # name
        msg = self.r.string()
        self.r.string()  # stack trace
        self.r.u8()  # nested flag
        return msg

    def query(self, sql: str, query_id: str = "") -> tuple[list[str], list[list]]:
        """Run one statement; returns (names, columns) or raises."""
        out = bytearray(leb(1) + lstr(query_id))
        out += b"\x01" + lstr("") + lstr("") + lstr("0.0.0.0:0")
        out += b"\x01" + lstr("bench") + lstr("localhost")
        out += lstr("perfbench") + leb(23) + leb(8) + leb(CLIENT_REVISION)
        out += lstr("")  # quota key
        out += leb(0)  # version patch
        out += lstr("")  # settings terminator
        out += leb(2) + leb(0) + lstr(sql)  # stage Complete, no compression
        out += leb(2) + lstr("") + BLOCK_INFO + leb(0) + leb(0)
        self.sock.sendall(bytes(out))
        names: list[str] = []
        columns: list[list] = []
        while True:
            ptype = self.r.varint()
            if ptype == 1:  # Data
                self.r.string()
                n, _t, cols = read_block(self.r)
                if not names:
                    names, columns = n, [[] for _ in n]
                for acc, c in zip(columns, cols):
                    acc.extend(c)
            elif ptype == 3:  # Progress
                for _ in range(5):
                    self.r.varint()
            elif ptype == 6:  # ProfileInfo
                self.r.varint(), self.r.varint(), self.r.varint()
                self.r.u8()
                self.r.varint()
                self.r.u8()
            elif ptype == 2:
                raise RuntimeError(self._exception())
            elif ptype == 5:  # EndOfStream
                return names, columns
            else:
                raise RuntimeError(f"unexpected server packet {ptype}")

    def close(self) -> None:
        self.sock.close()
