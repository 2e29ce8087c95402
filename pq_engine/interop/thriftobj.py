"""Thrift object model — compact-protocol record binding, from scratch.

Implements the public Apache Thrift COMPACT protocol (the same wire format
our parquet footers use via :mod:`thrift_compact`): structs are sequences
of field headers + values terminated by a STOP byte. Records stream
back-to-back (compact structs are self-delimiting), and the schema ships
as a generated ``.thrift`` IDL file — Thrift's own schema transport.

Reference parity: parquet-java binds thrift-generated classes via
parquet-thrift (ThriftParquetWriter.java / ThriftSchemaConverter); this is
the same object-model surface for pq_engine — columns <-> thrift structs —
built directly on the wire spec (no thrift lib in this container).

Encoding choices (all spec-legal, documented for interop):
* field headers use the LONG form (type nibble + zigzag-varint field id)
  so every row's header bytes are constant per field — that is what makes
  the encoder batch-vectorizable; the reader accepts BOTH the short
  (delta) and long forms.
* bools encode in the header type nibble (1 = true, 2 = false), per spec.
* doubles are 8-byte little-endian (the compact-protocol spec; note
  Java's TCompactProtocol historically emits big-endian — THRIFT-2906).
* optional fields: null = field omitted (same presence contract
  ThriftParquetWriter maps to parquet OPTIONAL).

Type mapping (ptype -> thrift):
    int64 -> i64 (zigzag varint)   int32 -> i32   bool -> bool
    float64 -> double   string -> string   binary -> binary
    date32 -> i32 (days)   timestamp(_ntz)_us -> i64 (micros)
    decimal64[p,s] -> i64 (unscaled)   uuid -> binary(16)
The ENCODER is vectorized (zigzag/uvarint batches + the interleave
scatter); the READER is a compact per-record walk for verification and
import — an interop surface, not a hot path (same stance as avro.py).
"""

from __future__ import annotations

import numpy as np

from ..kernels.ragged import RaggedBytes
from .avro import zigzag_varint_batch
from .protobuf import _scalar_uvarint, read_uvarint, uvarint_batch

# compact-protocol type nibbles (thrift_compact.py CT_* values)
_CT_STOP, _CT_TRUE, _CT_FALSE, _CT_BYTE = 0, 1, 2, 3
_CT_I16, _CT_I32, _CT_I64, _CT_DOUBLE, _CT_BINARY = 4, 5, 6, 7, 8

_THRIFT_TYPE = {
    "int64": "i64", "int32": "i32", "float64": "double", "bool": "bool",
    "string": "string", "binary": "binary", "date32": "i32",
    "timestamp_us": "i64", "timestamp_ntz_us": "i64", "uuid": "binary",
}


def _ctype(ptype: str) -> int:
    if ptype == "float64":
        return _CT_DOUBLE
    if ptype in ("string", "binary", "uuid"):
        return _CT_BINARY
    if ptype in ("int32", "date32"):
        return _CT_I32
    return _CT_I64  # int64 / timestamps / decimal64


def _zigzag16(v: int) -> int:
    return (v << 1) ^ (v >> 15)


# ---------------------------------------------------------------- schema


def thrift_schema(name: str, cols: list[dict]) -> str:
    lines = [f"struct {name} {{"]
    for i, c in enumerate(cols, start=1):
        pt = c["ptype"]
        if pt.startswith("decimal64["):
            p, s = pt.split("[", 1)[1][:-1].split(",")
            tt, comment = "i64", f"  // decimal({p},{s}) unscaled"
        elif pt == "date32":
            tt, comment = "i32", "  // days since epoch"
        elif pt in ("timestamp_us", "timestamp_ntz_us"):
            tt = "i64"
            comment = "  // microseconds since epoch" + (
                " (local)" if pt == "timestamp_ntz_us" else ""
            )
        elif pt == "uuid":
            tt, comment = "binary", "  // uuid (16 bytes)"
        else:
            tt, comment = _THRIFT_TYPE[pt], ""
        req = "optional" if c.get("nullable") else "required"
        lines.append(f"  {i}: {req} {tt} {c['name']};{comment}")
    lines.append("}")
    return "\n".join(lines) + "\n"


def parse_thrift_schema(src: str) -> tuple[str, list[dict]]:
    import re

    m = re.search(r"struct\s+(\w+)\s*\{(.*?)\}", src, re.S)
    if not m:
        raise ValueError("no struct block in .thrift source")
    fields = []
    for line in m.group(2).splitlines():
        line = line.split("//")[0].strip()
        fm = re.match(r"(\d+):\s*(optional|required)\s+(\w+)\s+(\w+);", line)
        if fm:
            fields.append({
                "number": int(fm.group(1)), "optional": fm.group(2) == "optional",
                "thrift_type": fm.group(3), "name": fm.group(4),
            })
    return m.group(1), fields


# ---------------------------------------------------------------- encode


def _encode_values_dense(ptype: str, values) -> tuple[np.ndarray, np.ndarray]:
    """Per-row value payload bytes (no header). Bools return length-0 rows
    (the value lives in the header nibble)."""
    if ptype in ("int64", "int32", "timestamp_us", "timestamp_ntz_us",
                 "date32") or ptype.startswith("decimal64["):
        nb, data = zigzag_varint_batch(np.asarray(values, dtype=np.int64))
        return nb.astype(np.int64), data
    if ptype == "float64":
        arr = np.ascontiguousarray(values, dtype="<f8").view(np.uint8)
        return np.full(len(values), 8, dtype=np.int64), arr.reshape(-1)
    if ptype == "bool":
        return np.zeros(len(values), dtype=np.int64), np.zeros(0, dtype=np.uint8)
    if ptype == "uuid":
        arr = np.ascontiguousarray(values, dtype=np.uint8).reshape(-1, 16)
        n = len(arr)
        values = RaggedBytes(np.arange(n + 1, dtype=np.int64) * 16, arr.reshape(-1))
        ptype = "binary"
    if ptype in ("string", "binary"):
        col = values  # RaggedBytes
        ln, ldata = uvarint_batch(col.lengths.astype(np.int64))
        lens = ln + col.lengths
        total = int(lens.sum())
        out = np.zeros(total, dtype=np.uint8)
        off = np.zeros(len(col) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        tl = int(ln.sum())
        pos = np.repeat(off[:-1] - (np.cumsum(ln) - ln), ln) + np.arange(
            tl, dtype=np.int64
        )
        out[pos] = ldata
        tp = int(col.lengths.sum())
        if tp:
            pos = np.repeat(
                off[:-1] + ln - col.offsets[:-1], col.lengths
            ) + np.arange(tp, dtype=np.int64)
            out[pos] = col.data
        return lens, out
    raise TypeError(f"ptype {ptype!r} has no thrift encoder")


def _encode_field(field_number: int, ptype: str, values, validity):
    """(lens int64[n_rows], data uint8): long-form header + payload per
    row; null rows encode to ZERO bytes (optional presence)."""
    fid = _scalar_uvarint(_zigzag16(field_number))
    v_lens, v_data = _encode_values_dense(ptype, values)
    nv = len(v_lens)
    if ptype == "bool":
        b = np.asarray(values, dtype=bool)
        hdr_len = 1 + len(fid)
        tagged_lens = np.full(nv, hdr_len, dtype=np.int64)
        tagged = np.zeros(nv * hdr_len, dtype=np.uint8)
        off = np.arange(nv, dtype=np.int64) * hdr_len
        tagged[off] = np.where(b, _CT_TRUE, _CT_FALSE).astype(np.uint8)
        for k, byte in enumerate(fid):
            tagged[off + 1 + k] = byte
    else:
        hdr = bytes([_ctype(ptype)]) + fid
        tagged_lens = v_lens + len(hdr)
        tagged = np.zeros(int(tagged_lens.sum()), dtype=np.uint8)
        off = np.zeros(nv + 1, dtype=np.int64)
        np.cumsum(tagged_lens, out=off[1:])
        for k, byte in enumerate(hdr):
            tagged[off[:-1] + k] = byte
        tv = int(v_lens.sum())
        if tv:
            pos = np.repeat(
                off[:-1] + len(hdr) - (np.cumsum(v_lens) - v_lens), v_lens
            ) + np.arange(tv, dtype=np.int64)
            tagged[pos] = v_data
    if validity is None:
        return tagged_lens, tagged
    validity = np.asarray(validity, dtype=bool)
    n = len(validity)
    lens = np.zeros(n, dtype=np.int64)
    lens[validity] = tagged_lens
    out_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    out = np.zeros(int(out_off[-1]), dtype=np.uint8)
    t = int(tagged_lens.sum())
    if t:
        src_off = np.zeros(nv + 1, dtype=np.int64)
        np.cumsum(tagged_lens, out=src_off[1:])
        pos = np.repeat(
            out_off[:-1][validity] - src_off[:-1], tagged_lens
        ) + np.arange(t, dtype=np.int64)
        out[pos] = tagged
    return lens, out


def write_thrift(path: str, name: str, cols: list[dict], n_rows: int) -> str:
    """cols: [{name, ptype, values, validity}] (kernel form). Writes
    ``path`` (back-to-back compact structs, one per row, each ending in
    STOP) and ``path + '.thrift'`` (the IDL). Returns the schema path."""
    fields = []
    for i, c in enumerate(cols, start=1):
        fields.append(_encode_field(i, c["ptype"], c["values"], c.get("validity")))
        if len(fields[-1][0]) != n_rows:
            raise ValueError(
                f"column {c['name']}: {len(fields[-1][0])} rows != {n_rows}"
            )
    # STOP byte terminates each struct — append as a constant "field"
    stop = (np.ones(n_rows, dtype=np.int64),
            np.zeros(n_rows, dtype=np.uint8))  # 0x00 per row
    fields.append(stop)
    lens_mat = np.stack([f[0] for f in fields])
    row_lens = lens_mat.sum(axis=0)
    row_off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(row_lens, out=row_off[1:])
    out = np.zeros(int(row_off[-1]), dtype=np.uint8)
    prefix = np.zeros(n_rows, dtype=np.int64)
    for (lens, data) in fields:
        start = row_off[:-1] + prefix
        t = int(lens.sum())
        if t:
            pos = np.repeat(start - (np.cumsum(lens) - lens), lens) + np.arange(
                t, dtype=np.int64
            )
            out[pos] = data
        prefix += lens
    with open(path, "wb") as f:
        f.write(out.tobytes())
    schema_path = path + ".thrift"
    with open(schema_path, "w") as f:
        f.write(thrift_schema(name, [
            {"name": c["name"], "ptype": c["ptype"],
             "nullable": c.get("validity") is not None}
            for c in cols
        ]))
    return schema_path


# ---------------------------------------------------------------- decode


def _read_zigzag(buf, pos):
    u, pos = read_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def _skip_value(buf, pos, ctype):
    if ctype in (_CT_TRUE, _CT_FALSE):
        return pos
    if ctype == _CT_BYTE:
        return pos + 1
    if ctype in (_CT_I16, _CT_I32, _CT_I64):
        return read_uvarint(buf, pos)[1]
    if ctype == _CT_DOUBLE:
        return pos + 8
    if ctype == _CT_BINARY:
        ln, pos = read_uvarint(buf, pos)
        return pos + ln
    raise ValueError(f"unsupported thrift compact type {ctype}")


def read_thrift(path: str, schema_path: str | None = None):
    """Read back-to-back compact structs + the .thrift IDL ->
    (struct name, fields, records). Accepts both short (delta) and long
    field headers; unknown fields are skipped by type; absent optional
    fields decode as None; absent required fields raise."""
    import struct as _struct

    if schema_path is None:
        schema_path = path + ".thrift"
    with open(schema_path) as f:
        name, fields = parse_thrift_schema(f.read())
    by_num = {f["number"]: f for f in fields}
    with open(path, "rb") as f:
        buf = f.read()
    records = []
    pos = 0
    while pos < len(buf):
        rec = {f["name"]: None for f in fields}
        last_fid = 0
        while True:
            if pos >= len(buf):
                raise ValueError("thrift stream truncated mid-struct")
            hb = buf[pos]
            pos += 1
            if hb == _CT_STOP:
                break
            ctype = hb & 0x0F
            delta = hb >> 4
            if delta:
                fid = last_fid + delta  # short form
            else:
                fid, pos = _read_zigzag(buf, pos)  # long form
            last_fid = fid
            fld = by_num.get(fid)
            if fld is None:
                pos = _skip_value(buf, pos, ctype)
                continue
            tt = fld["thrift_type"]
            if ctype in (_CT_TRUE, _CT_FALSE):
                v = ctype == _CT_TRUE
            elif ctype in (_CT_I16, _CT_I32, _CT_I64):
                v, pos = _read_zigzag(buf, pos)
            elif ctype == _CT_DOUBLE:
                if pos + 8 > len(buf):
                    raise ValueError("thrift double truncated")
                v = _struct.unpack_from("<d", buf, pos)[0]
                pos += 8
            elif ctype == _CT_BINARY:
                ln, pos = read_uvarint(buf, pos)
                raw = buf[pos : pos + ln]
                if len(raw) != ln:
                    raise ValueError("thrift binary field truncated")
                v = raw.decode("utf-8") if tt == "string" else raw
                pos += ln
            else:
                raise ValueError(f"unsupported thrift compact type {ctype}")
            rec[fld["name"]] = v
        missing = [f["name"] for f in fields
                   if not f["optional"] and rec[f["name"]] is None]
        if missing:
            raise ValueError(f"required thrift fields absent: {missing}")
        records.append(rec)
    return name, fields, records
