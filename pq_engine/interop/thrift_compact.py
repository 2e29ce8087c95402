"""Minimal Thrift compact-protocol WRITER — just enough for parquet metadata.

The layouts follow the public Apache Thrift compact protocol spec (the same
wire format parquet-format-structures serializes with, e.g. Util.writePageHeader
/root/reference/parquet-format-structures/.../format/Util.java:120). Only the
writer subset parquet needs: structs, i32/i64 (zigzag uleb128), strings,
lists of i32/string/struct, booleans.
"""

from __future__ import annotations

CT_STOP = 0x00
CT_BOOL_TRUE = 0x01
CT_BOOL_FALSE = 0x02
CT_BYTE = 0x03
CT_I16 = 0x04
CT_I32 = 0x05
CT_I64 = 0x06
CT_DOUBLE = 0x07
CT_BINARY = 0x08
CT_LIST = 0x09
CT_STRUCT = 0x0C


def _uvarint(x: int) -> bytes:
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int, bits: int = 64) -> int:
    return (v << 1) ^ (v >> (bits - 1))


class StructWriter:
    """Appends compact-protocol fields in ascending field-id order."""

    def __init__(self):
        self.buf = bytearray()
        self.last_id = 0

    def _header(self, fid: int, ctype: int) -> None:
        delta = fid - self.last_id
        if 0 < delta <= 15:
            self.buf.append((delta << 4) | ctype)
        else:
            self.buf.append(ctype)
            self.buf += _uvarint(_zigzag(fid, 16))
        self.last_id = fid

    def i8(self, fid: int, v: int) -> "StructWriter":
        # compact BYTE: one raw signed byte (no zigzag/varint) — used by
        # VariantType.specification_version
        self._header(fid, CT_BYTE)
        self.buf.append(v & 0xFF)
        return self

    def i32(self, fid: int, v: int) -> "StructWriter":
        self._header(fid, CT_I32)
        self.buf += _uvarint(_zigzag(v, 32))
        return self

    def i64(self, fid: int, v: int) -> "StructWriter":
        self._header(fid, CT_I64)
        self.buf += _uvarint(_zigzag(v, 64))
        return self

    def boolean(self, fid: int, v: bool) -> "StructWriter":
        self._header(fid, CT_BOOL_TRUE if v else CT_BOOL_FALSE)
        return self

    def binary(self, fid: int, v: bytes) -> "StructWriter":
        self._header(fid, CT_BINARY)
        self.buf += _uvarint(len(v))
        self.buf += v
        return self

    def string(self, fid: int, v: str) -> "StructWriter":
        return self.binary(fid, v.encode("utf-8"))

    def struct(self, fid: int, inner: "StructWriter") -> "StructWriter":
        self._header(fid, CT_STRUCT)
        self.buf += inner.finish()
        return self

    def _list_header(self, fid: int, elem_ctype: int, size: int) -> None:
        self._header(fid, CT_LIST)
        if size < 15:
            self.buf.append((size << 4) | elem_ctype)
        else:
            self.buf.append(0xF0 | elem_ctype)
            self.buf += _uvarint(size)

    def list_i32(self, fid: int, values: list[int]) -> "StructWriter":
        self._list_header(fid, CT_I32, len(values))
        for v in values:
            self.buf += _uvarint(_zigzag(v, 32))
        return self

    def list_string(self, fid: int, values: list[str]) -> "StructWriter":
        self._list_header(fid, CT_BINARY, len(values))
        for v in values:
            e = v.encode("utf-8")
            self.buf += _uvarint(len(e))
            self.buf += e
        return self

    def list_bool(self, fid: int, values: list[bool]) -> "StructWriter":
        # list<bool>: one byte per element, 1 = true / 2 = false (the
        # compact-protocol list-element form, unlike field-header bools)
        self._list_header(fid, CT_BOOL_TRUE, len(values))
        for v in values:
            self.buf.append(1 if v else 2)
        return self

    def list_i64(self, fid: int, values: list[int]) -> "StructWriter":
        self._list_header(fid, CT_I64, len(values))
        for v in values:
            self.buf += _uvarint(_zigzag(v, 64))
        return self

    def list_binary(self, fid: int, values: list[bytes]) -> "StructWriter":
        self._list_header(fid, CT_BINARY, len(values))
        for v in values:
            self.buf += _uvarint(len(v))
            self.buf += v
        return self

    def list_struct(self, fid: int, items: list["StructWriter"]) -> "StructWriter":
        self._list_header(fid, CT_STRUCT, len(items))
        for it in items:
            self.buf += it.finish()
        return self

    def finish(self) -> bytes:
        return bytes(self.buf) + bytes([CT_STOP])


# ----------------------------------------------------------------- reader
#
# Generic compact-protocol STRUCT reader (r5) — enough to parse parquet
# FileMetaData / PageHeader written by any compliant writer (pyarrow,
# parquet-java Util.writePageHeader, our own StructWriter). Returns plain
# dicts keyed by field id; unknown fields are preserved, callers pick the
# ids they know (the thrift forward-compat contract).


def _read_uvar(buf, pos):
    shift = out = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not (b & 0x80):
            return out, pos
        shift += 7
        if shift > 70:
            raise ValueError("thrift uvarint too long")


def _unzig(u):
    return (u >> 1) ^ -(u & 1)


def read_struct(buf, pos: int = 0):
    """Parse one compact struct at ``pos`` -> ({field_id: value}, end).
    bool -> bool, byte/i16/i32/i64 -> int, double -> float, binary ->
    bytes, struct -> dict, list -> list."""
    out = {}
    last = 0
    while True:
        if pos >= len(buf):
            raise ValueError("thrift struct truncated (no STOP)")
        hb = buf[pos]
        pos += 1
        if hb == CT_STOP:
            return out, pos
        ctype = hb & 0x0F
        delta = hb >> 4
        if delta:
            fid = last + delta
        else:
            z, pos = _read_uvar(buf, pos)
            fid = _unzig(z)
        last = fid
        out[fid], pos = _read_value(buf, pos, ctype)


def _read_value(buf, pos, ctype):
    if CT_I16 <= ctype <= CT_I64:  # the common case first: page headers are ints
        z, pos = _read_uvar(buf, pos)
        return _unzig(z), pos
    if ctype == CT_BOOL_TRUE:
        return True, pos
    if ctype == CT_BOOL_FALSE:
        return False, pos
    if ctype == CT_BYTE:
        v = buf[pos]
        return (v - 256 if v >= 128 else v), pos + 1
    if ctype == CT_DOUBLE:
        import struct as _s

        return _s.unpack_from("<d", buf, pos)[0], pos + 8
    if ctype == CT_BINARY:
        ln, pos = _read_uvar(buf, pos)
        raw = bytes(buf[pos : pos + ln])
        if len(raw) != ln:
            raise ValueError("thrift binary truncated")
        return raw, pos + ln
    if ctype == CT_LIST:
        hb = buf[pos]
        pos += 1
        size = hb >> 4
        etype = hb & 0x0F
        if size == 15:
            size, pos = _read_uvar(buf, pos)
        items = []
        for _ in range(size):
            if etype == CT_STRUCT:
                v, pos = read_struct(buf, pos)
            elif etype in (CT_BOOL_TRUE, CT_BOOL_FALSE):
                # list<bool>: one byte per element (1 = true)
                v = buf[pos] == 1
                pos += 1
            else:
                v, pos = _read_value(buf, pos, etype)
            items.append(v)
        return items, pos
    if ctype == CT_STRUCT:
        return read_struct(buf, pos)
    raise ValueError(f"unsupported compact type {ctype}")
