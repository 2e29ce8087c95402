"""Write real parquet files from pq_engine kernel output.

File shape follows the public parquet-format spec exactly as the reference
writes it (ParquetFileWriter.java: magic :596-604, row group :618,1622,
footer :2104-2169): ``PAR1 | column chunks | FileMetaData thrift | u32 len |
PAR1``. Pages carry compact-thrift PageHeaders (Util.writePageHeader).

Supported column specs (enough to interop-prove every value kernel):
  int32 / int64 / float / double / bool  -> PLAIN or DELTA_BINARY_PACKED or
                                            BYTE_STREAM_SPLIT or RLE (bool)
  string / binary -> PLAIN, PLAIN_DICTIONARY (dict page + RLE ids),
                     DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY
  logical types   -> date32 / timestamp(_ntz)_us / decimal64[p,s] over
                     INT32/INT64, and the FLBA family (uuid, float16,
                     interval, decimal_flba[p,s], fixed[k]) as
                     FIXED_LEN_BYTE_ARRAY with ConvertedType + LogicalType
                     annotations (pyarrow sees halffloat/decimal128/date32/
                     timestamp; DuckDB sees UUID/DECIMAL/DATE/TIMESTAMP/
                     INTERVAL)
  nullable columns -> OPTIONAL with RLE def-levels (V1 level framing)

The point is not to be a full writer — it is the *oracle bridge*: pyarrow /
DuckDB decode these files, independently proving our page bytes match the
format parquet-java decodes (TestDictionary / TestDeltaBinaryPacked /
TestRunLengthBitPackingHybrid semantics).
"""

from __future__ import annotations

import numpy as np

from ..kernels import bytestream, delta, deltastrings, dictionary, plain, rle
from ..kernels.ragged import RaggedBytes
from .format import (ENC_BSS, ENC_DBA, ENC_DELTA_BP, ENC_DLBA, ENC_PLAIN,
                     ENC_PLAIN_DICT, ENC_RLE, ENC_RLE_DICT, PAGE_DATA,
                     PAGE_DATA_V2, PAGE_DICT)
from .thrift_compact import StructWriter

MAGIC = b"PAR1"

# parquet-mr's VersionParser format: "<application> version <semver>
# (build <hash>)". An UNPARSEABLE created_by makes parquet-mr assume the
# PARQUET-246 DeltaByteArray bug and refuse multi-row-group DBA files;
# a parseable non-"parquet-mr" application is exempt
# (CorruptDeltaByteArrays.java:40).
CREATED_BY = "pq_engine version 0.6.0 (build interop)"

# parquet-format enums
TYPE = {"bool": 0, "int32": 1, "int64": 2, "float32": 4, "float64": 5, "binary": 6, "string": 6}
FLBA = 7  # FIXED_LEN_BYTE_ARRAY (PrimitiveType.java:48-69)


def _physical(ptype: str) -> tuple[int, int | None]:
    """(physical type enum, type_length) of a logical ptype — the
    PrimitiveType mapping incl. the FLBA-backed logical family."""
    if ptype in TYPE:
        return TYPE[ptype], None
    if ptype == "date32":
        return 1, None  # INT32
    if ptype in ("timestamp_us", "timestamp_ntz_us"):
        return 2, None  # INT64
    if ptype.startswith("decimal64["):
        return 2, None
    from ..kernels.fixedlen import fixed_width

    return FLBA, fixed_width(ptype)


def _annotate(se: "StructWriter", ptype: str) -> None:
    """ConvertedType + LogicalType annotations (SchemaElement fields 6/7/8/10
    — LogicalTypeAnnotation.java semantics; both forms written so legacy and
    modern readers agree)."""
    if ptype == "string":
        se.i32(6, 0)  # UTF8
    elif ptype == "date32":
        se.i32(6, 6)  # DATE
        se.struct(10, StructWriter().struct(6, StructWriter()))
    elif ptype in ("timestamp_us", "timestamp_ntz_us"):
        se.i32(6, 10)  # TIMESTAMP_MICROS
        ts = (
            StructWriter()
            .boolean(1, ptype == "timestamp_us")  # isAdjustedToUTC
            .struct(2, StructWriter().struct(2, StructWriter()))  # unit=MICROS
        )
        se.struct(10, StructWriter().struct(8, ts))
    elif ptype.startswith(("decimal64[", "decimal_flba[")):
        p, s = map(int, ptype.split("[", 1)[1][:-1].split(","))
        se.i32(6, 5).i32(7, s).i32(8, p)  # DECIMAL + scale + precision
        se.struct(
            10,
            StructWriter().struct(5, StructWriter().i32(1, s).i32(2, p)),
        )
    elif ptype == "uuid":
        se.struct(10, StructWriter().struct(14, StructWriter()))
    elif ptype == "float16":
        se.struct(10, StructWriter().struct(15, StructWriter()))
    elif ptype == "interval":
        se.i32(6, 21)  # INTERVAL (FLBA(12) months/days/millis)


# CompressionCodecName.java:26-33 / parquet-format CompressionCodec enum
CODEC_ENUM = {None: 0, "none": 0, "snappy": 1, "gzip": 2, "zstd": 6}


def _compress_body(body, compression: str | None):
    """The page body as written: ``body`` itself, or pyarrow's compressed
    Buffer of it (no copy into ``bytes``)."""
    if compression in (None, "none"):
        return body
    import pyarrow as pa

    # pyarrow's codecs emit exactly the stream formats parquet expects
    # (raw snappy / gzip member / zstd frame) — same codecs its own parquet
    # writer uses
    return pa.Codec(compression).compress(body)


def _encode_values(ptype: str, codec: str, vals, head=b""):
    """(encoding enum, ``head`` + data page value bytes) of one page's
    non-null values; ``head`` is a V1 page's definition levels, laid in
    front of PLAIN strings without a copy of the values. Dictionary chunks
    are factorized once per chunk by _write_flat_chunk."""
    if ptype in ("string", "binary") and codec == "plain":
        return ENC_PLAIN, plain.plain_bytes_after(head, vals)
    enc, body = _encode_body(ptype, codec, vals)
    return enc, (head + body if head else body)


def _encode_body(ptype: str, codec: str, vals):
    if ptype in ("string", "binary"):
        if codec == "dlba":
            return ENC_DLBA, deltastrings.encode_dlba(vals)
        if codec == "dba":
            return ENC_DBA, deltastrings.encode_dba(vals)
    if ptype == "bool":
        return ENC_PLAIN, plain.encode_plain_bool(vals)
    if _physical(ptype)[0] == FLBA:
        if codec != "plain":
            raise ValueError(f"FLBA ptype {ptype!r}: only PLAIN supported here")
        return ENC_PLAIN, np.ascontiguousarray(vals, dtype=np.uint8).tobytes()
    if codec == "plain":
        return ENC_PLAIN, plain.encode_plain_numeric(vals)
    if codec == "delta":
        return ENC_DELTA_BP, delta.encode_delta(vals)
    if codec == "bss":
        return ENC_BSS, bytestream.encode_bss(vals)
    raise ValueError(f"unsupported {ptype}/{codec}")


def _crc32_signed(*parts) -> int:
    """PageHeader.crc (field 4): CRC32 over the page body bytes as
    written (``parts`` in order, not joined), stored as a signed i32
    exactly like parquet-mr's (int) CRC32.getValue()
    (ParquetFileWriter.java:179 + pageWriteChecksum default-on behavior)."""
    import zlib

    c = 0
    for part in parts:
        c = zlib.crc32(part, c)
    return c - (1 << 32) if c >= (1 << 31) else c


def _page_header(page_type: int, n_values: int, enc: int, raw_size: int,
                 comp_size: int | None = None,
                 body=None) -> bytes:
    inner = StructWriter().i32(1, n_values).i32(2, enc)
    if page_type == PAGE_DATA:
        inner.i32(3, ENC_RLE).i32(4, ENC_RLE)  # def/rep level encodings
        field = 5
    else:
        field = 7
    hdr = (
        StructWriter()
        .i32(1, page_type)
        .i32(2, raw_size)
        .i32(3, comp_size if comp_size is not None else raw_size)
    )
    if body is not None:
        hdr.i32(4, _crc32_signed(body))
    return hdr.struct(field, inner).finish()


def _slice_flat_col(col: dict, r0: int, r1: int, n_rows: int) -> dict:
    """Row band [r0, r1) of a flat column, validity-aware: ``values`` holds
    only non-null entries, so the value span is found by counting set
    validity bits before/inside the band."""
    if r0 == 0 and r1 == n_rows:
        return col
    validity = col.get("validity")
    vals = col["values"]
    if validity is not None:
        v = np.asarray(validity)
        v0 = int(v[:r0].sum())
        v1 = v0 + int(v[r0:r1].sum())
        band_validity = v[r0:r1]
    else:
        v0, v1, band_validity = r0, r1, None
    if isinstance(vals, RaggedBytes):
        offs = vals.offsets[v0 : v1 + 1] - vals.offsets[v0]
        data = vals.data[vals.offsets[v0] : vals.offsets[v1]]
        band_vals = RaggedBytes(
            np.ascontiguousarray(offs), np.ascontiguousarray(data))
    else:
        band_vals = vals[v0:v1]
    out = dict(col)
    out["values"] = band_vals
    if band_validity is not None:
        out["validity"] = band_validity
    else:
        out.pop("validity", None)
    return out


def _column_meta(ptype: str, encodings, name: str, compression: str | None,
                 n_rows: int, raw_total: int, pages_size: int, data_off: int,
                 dict_off: int | None, statistics: StructWriter, enc_stats,
                 bloom: tuple) -> StructWriter:
    """ColumnMetaData of a flat chunk: fields 1-7 and 9, 11 (with a
    dictionary page), 12 Statistics, 13 PageEncodingStats (what proves to a
    DictionaryFilter-style reader that every data page is dict-encoded) and
    14/15 (with a bloom filter)."""
    meta = (
        StructWriter()
        .i32(1, _physical(ptype)[0])
        .list_i32(2, sorted(set(encodings)))
        .list_string(3, [name])
        .i32(4, CODEC_ENUM[compression])
        .i64(5, n_rows)
        .i64(6, raw_total)
        .i64(7, pages_size)
        .i64(9, data_off)
    )
    if dict_off is not None:
        meta.i64(11, dict_off)
    meta.struct(12, statistics)
    meta.list_struct(13, [
        StructWriter().i32(1, pt).i32(2, e).i32(3, cnt)
        for pt, e, cnt in enc_stats
    ])
    if bloom[0] is not None:
        meta.i64(14, bloom[0]).i32(15, bloom[1])
    return meta


_STAT_DTYPE = {"int32": "<i4", "date32": "<i4", "int64": "<i8",
               "timestamp_us": "<i8", "timestamp_ntz_us": "<i8",
               "float32": "<f4", "float64": "<f8"}


def _minmax_bytes(ptype: str, vals):
    """(min, max) of a non-empty value slice in the spec's plain
    little-endian (numerics) / raw-bytes (UTF8: unsigned lexicographic)
    serialized form — the TypeDefinedOrder bytes both chunk Statistics and
    the ColumnIndex carry; timestamps are signed INT64 bounds. None for
    types whose ordering needs signed FLBA interpretation (decimal/int96,
    bool — declared scope) and for all-NaN float slices (spec: NaN is
    ignored for stats)."""
    if ptype in ("string", "binary"):
        import pyarrow as pa
        import pyarrow.compute as pc

        # zero-copy large_binary view; Arrow's binary min/max is memcmp
        # order with a shorter prefix first, i.e. unsigned lexicographic
        arr = pa.Array.from_buffers(
            pa.large_binary(), len(vals),
            [None, pa.py_buffer(vals.offsets), pa.py_buffer(vals.data)])
        mm = pc.min_max(arr)
        return mm["min"].as_py(), mm["max"].as_py()
    if ptype in _STAT_DTYPE:
        a = np.asarray(vals)
        if a.dtype.kind == "f":
            ok = ~np.isnan(a)
            if not ok.any():
                return None
            a = a[ok]
        return a.min().tobytes(), a.max().tobytes()
    return None


def _chunk_statistics(ptype: str, vals, validity, n_rows: int):
    """ColumnMetaData.statistics (field 12): null_count + min_value/
    max_value — what the filtered reader's row-group pruning (L1)
    compares against. min/max skipped when _minmax_bytes declines."""
    nulls = n_rows - (len(vals) if not hasattr(vals, "offsets")
                      else len(vals.offsets) - 1)
    if validity is not None:
        nulls = int((~np.asarray(validity)).sum())
    st = StructWriter().i64(3, nulls)
    nvals = len(vals.offsets) - 1 if isinstance(vals, RaggedBytes) else len(vals)
    if nvals == 0:
        return st
    mm = _minmax_bytes(ptype, vals)
    if mm is None:
        return st
    return st.binary(5, mm[1]).binary(6, mm[0])


def write_parquet(path: str, columns: list[dict], n_rows: int,
                  compression: str | None = None,
                  page_version: int = 1,
                  row_group_size: int | None = None,
                  bloom_columns: list[str] | None = None,
                  data_page_rows: int | None = None,
                  encryption: dict | None = None) -> None:
    """columns: [{name, ptype, codec, values (np array | RaggedBytes),
    validity (bool array | None)}]. ``compression``
    applies the parquet page codec (snappy/gzip/zstd) to every page body,
    exactly as CompressionCodecName selects in the reference.

    ``ptype`` may be ``list<child>`` with ``values`` a nested.ListColumn —
    written as the standard 3-level LIST group (optional group (LIST) /
    repeated group list / optional element) with true rep/def level streams,
    proving the Dremel levels of nested.py against independent readers.

    ``page_version=2`` writes DataPageV2 (DataPageV2.java:26-52 semantics):
    def levels stored UNCOMPRESSED outside the compressed value region, with
    explicit num_nulls/num_rows and level byte lengths in the header.

    ``bloom_columns`` (r6) emits a split-block bloom filter per chunk for
    the named flat columns (BloomFilterHeader + bitset, XxHash64 over
    plain encodings — the BloomFilterReader-compatible shape).

    ``row_group_size`` (r6) splits rows into multiple row groups — the
    split/pruning unit at scale (ParquetFileWriter.startBlock analog) —
    for FLAT columns (nested groups raise: declared scope). Every flat
    chunk carries Statistics (min/max/null_count), so our own files feed
    the filtered reader's row-group pruning with no external writer.

    ``data_page_rows`` (r6) splits each flat chunk into multiple data
    pages of that many rows AND emits the page index — ColumnIndex +
    OffsetIndex structs after the row-group data, ColumnChunk fields 4-7
    (ColumnIndexBuilder/OffsetIndexBuilder analog) — so our own files
    feed the filtered reader's page-level pruning (L4) too. Nested
    columns stay single-page (declared scope: no page index there).

    ``encryption`` (r6) writes the file encrypted in ONE disk write —
    the integrated ParquetFileWriter behavior, not a write-then-transform
    double pass (at 100 TB the transform pass doubles I/O). Kwargs for
    :func:`~pq_engine.interop.parquet_crypto.encrypt_parquet`:
    ``{"footer_key": bytes, "column_keys": {...}, "aad_mode": ...,
    "algorithm": ..., "key_metadata": ..., ...}``; the plaintext bytes
    are assembled in memory, transformed, and only ciphertext touches
    the disk."""
    if encryption is not None:
        import io as _io

        from .parquet_crypto import encrypt_parquet

        buf_path = _io.BytesIO()
        _write_parquet_bytes(buf_path, columns, n_rows, compression,
                             page_version, row_group_size, bloom_columns,
                             data_page_rows)
        enc = encrypt_parquet(buf_path.getvalue(), **encryption)
        with open(path, "wb") as f:
            f.write(enc)
        return
    with open(path, "wb") as f:
        _write_parquet_bytes(f, columns, n_rows, compression, page_version,
                             row_group_size, bloom_columns, data_page_rows)


def _write_parquet_bytes(fobj, columns: list[dict], n_rows: int,
                         compression: str | None = None,
                         page_version: int = 1,
                         row_group_size: int | None = None,
                         bloom_columns: list[str] | None = None,
                         data_page_rows: int | None = None) -> None:
    out = bytearray(MAGIC)
    if row_group_size and row_group_size > 0 and n_rows > 0:
        bands = [(i, min(i + row_group_size, n_rows))
                 for i in range(0, n_rows, row_group_size)]
    else:
        bands = [(0, n_rows)]
    row_groups = []
    pageidx: list[dict] = []
    for r0, r1 in bands:
        chunks = []
        for col in columns:
            name, ptype, codec = col["name"], col["ptype"], col.get("codec")
            nested = (ptype.startswith(("list<", "map<"))
                      or ptype in ("variant", "struct"))
            if nested and len(bands) > 1:
                raise ValueError(
                    f"row_group_size with nested column {name!r} is "
                    "unsupported (flat columns only)")
            if ptype.startswith("list<"):
                if codec not in ("plain", "auto", None):
                    # list child values are PLAIN in this writer; silently
                    # ignoring a requested codec would hand back a different
                    # encoding than asked for (ADVICE r2)
                    raise ValueError(
                        f"list column {name!r}: codec {codec!r} unsupported by the "
                        "interop writer (child values are PLAIN); pass 'plain'"
                    )
                chunks.append(_write_list_chunk(out, col, n_rows, compression))
                continue
            if ptype == "variant":
                chunks.extend(_write_variant_chunks(out, col, n_rows, compression))
                continue
            if ptype == "struct":
                chunks.extend(_write_struct_chunks(out, col, n_rows, compression))
                continue
            if ptype.startswith("map<"):
                chunks.extend(_write_map_chunks(out, col, n_rows, compression))
                continue
            band = _slice_flat_col(col, r0, r1, n_rows)
            if bloom_columns and name in bloom_columns:
                band = dict(band)
                band["bloom"] = True
            if data_page_rows and data_page_rows > 0 and r1 > r0:
                page_rows, index_out = data_page_rows, pageidx
            else:
                page_rows, index_out = r1 - r0, None
            chunks.append(_write_flat_chunk(
                out, band, r1 - r0, compression, page_version, page_rows,
                index_out))
        row_groups.append((chunks, r1 - r0))
    if pageidx:
        _emit_page_index(out, pageidx)
    _finish_file(fobj, out, columns, n_rows, row_groups)


def _write_flat_chunk(out: bytearray, col: dict, n_rows: int,
                      compression: str | None, page_version: int,
                      page_rows: int, index_out: list | None):
    """One flat column chunk: an optional dictionary page, data pages
    (V1/V2) of ``page_rows`` rows each, then ColumnMetaData with
    Statistics. A dict chunk factorizes ONCE (one dict page shared by every
    data page, parquet-mr semantics); every other codec encodes each page
    independently — pages are the format's self-contained re-sync unit.
    With ``index_out``, per-page ColumnIndex/OffsetIndex entries are
    collected there — the ColumnIndexBuilder/OffsetIndexBuilder analog
    (parquet-column .../columnindex/ColumnIndexBuilder.java add(),
    OffsetIndexBuilder). Returns (ColumnChunk writer, chunk byte size)."""
    name, ptype, codec = col["name"], col["ptype"], col.get("codec")
    vals, validity = col["values"], col.get("validity")
    chunk_start = len(out)
    encodings = [ENC_RLE]
    dict_off = None
    raw_total = 0
    shared = None  # (codes over chunk non-null values, max dict id)
    if codec == "dict" and ptype != "bool" and _physical(ptype)[0] != FLBA:
        if isinstance(vals, RaggedBytes):
            codes, uniques = dictionary.factorize_bytes(vals)
            dict_bytes = plain.encode_plain_bytes(uniques)
        else:
            codes, uniques = dictionary.factorize_numeric(vals)
            dict_bytes = plain.encode_plain_numeric(uniques)
        dict_off = len(out)
        comp = _compress_body(dict_bytes, compression)
        out += _page_header(PAGE_DICT, len(uniques), ENC_PLAIN,
                            len(dict_bytes), len(comp), body=comp)
        out += comp
        encodings.append(ENC_PLAIN)
        raw_total += len(dict_bytes)
        shared = (codes, max(len(uniques) - 1, 0))
    data_off = len(out)
    locs, null_pages, mins, maxs, null_counts = [], [], [], [], []
    stats_ok = True
    vstart = 0  # non-null value cursor (dict codes alignment)
    # an empty chunk still gets one (empty) data page
    page_starts = range(0, n_rows or 1, page_rows or 1)
    for r0 in page_starts:
        r1 = min(r0 + page_rows, n_rows)
        page = _slice_flat_col(col, r0, r1, n_rows)
        pv, pval = page["values"], page.get("validity")
        nv = len(pv.offsets) - 1 if isinstance(pv, RaggedBytes) else len(pv)
        # V1 data page: [def levels (u32-prefixed RLE)] + values,
        # compressed together; V2 keeps its levels out of the values
        levels = (rle.encode_hybrid_length_prefixed(
            np.asarray(pval).astype(np.uint64), 1)
            if pval is not None and page_version != 2 else b"")
        if shared is not None:
            body = levels + dictionary.encode_dict_data_page(
                shared[0][vstart:vstart + nv], shared[1])
            enc = ENC_PLAIN_DICT
        else:
            enc, body = _encode_values(ptype, codec, pv, levels)
        vstart += nv
        page_off = len(out)
        if page_version == 2:
            # V2: def levels raw RLE (no length prefix), uncompressed,
            # before the (optionally compressed) values
            if pval is not None:
                v = np.asarray(pval)
                dlv = rle.encode_hybrid(v.astype(np.uint64), 1)
                n_nulls = int((~v).sum())
            else:
                dlv, n_nulls = b"", 0
            comp_vals = _compress_body(body, compression)
            out += _page_header_v2(
                r1 - r0, n_nulls, enc, len(dlv), len(body), len(comp_vals),
                compression not in (None, "none"), body=(dlv, comp_vals))
            out += dlv
            out += comp_vals
            raw_total += len(dlv) + len(body)
        else:
            comp_body = _compress_body(body, compression)
            out += _page_header(PAGE_DATA, r1 - r0, enc,
                                len(body), len(comp_body),
                                body=comp_body)
            out += comp_body
            raw_total += len(body)
        if index_out is None:
            continue  # no page index: skip the per-page min/max
        # PageLocation: offset, size incl. header, first_row_index (rg-rel.)
        locs.append((page_off, len(out) - page_off, r0))
        null_counts.append((r1 - r0) - nv)
        null_pages.append(nv == 0)
        mm = _minmax_bytes(ptype, pv) if nv else None
        if nv and mm is None:
            stats_ok = False  # type without comparable stats: no ColumnIndex
        mins.append(mm[0] if mm else b"")
        maxs.append(mm[1] if mm else b"")
    encodings.append(enc)
    pages_size = len(out) - chunk_start  # pages only: blooms live after
    data_pt = PAGE_DATA_V2 if page_version == 2 else PAGE_DATA
    enc_stats = ([(PAGE_DICT, ENC_PLAIN, 1)] if dict_off is not None else []) \
        + [(data_pt, enc, len(page_starts))]
    bloom = _append_bloom(out, col, vals)
    meta = _column_meta(
        ptype, encodings, name, compression, n_rows, raw_total, pages_size,
        data_off, dict_off, _chunk_statistics(ptype, vals, validity, n_rows),
        enc_stats, bloom)
    cc = StructWriter().i64(2, chunk_start).struct(3, meta)
    if index_out is not None:
        index_out.append({
            "cc": cc, "locs": locs, "null_pages": null_pages, "mins": mins,
            "maxs": maxs, "null_counts": null_counts, "ptype": ptype,
            "stats_ok": stats_ok and not all(null_pages),
        })
    return cc, len(out) - chunk_start


# ------------------------------------------------------ engine page copy

# engine page codec -> encoding of the V2 data page that holds its body as
# it is, per kernel type family. Not copied: fsst (no parquet encoding),
# bool rle (the spec's RLE boolean body starts with a 4-byte length, the
# engine's does not), bss (Spark's vectorized reader refuses
# BYTE_STREAM_SPLIT; DuckDB 1.0 reads it for FLOAT/DOUBLE only) and
# DELTA_BYTE_ARRAY over FIXED_LEN_BYTE_ARRAY.
PAGE_COPY_ENCODING = {"plain": ENC_PLAIN, "dict": ENC_RLE_DICT,
                      "delta": ENC_DELTA_BP, "dlba": ENC_DLBA, "dba": ENC_DBA}


def _copy_codecs(kp: str) -> tuple:
    if kp in ("string", "binary"):
        return ("plain", "dict", "dlba", "dba")
    if kp in ("int32", "int64", "date32", "timestamp_us", "timestamp_ntz_us"):
        return ("plain", "dict", "delta")
    if kp == "bool":
        return ("plain",)
    return ("plain", "dict")  # floats and the FLBA family


def _page_copy_refusal(pages: list[tuple[dict, bytes]]) -> str | None:
    """Why the engine pages of one flat chunk (``(meta, blob)`` pairs)
    cannot be written as parquet pages as they are: ``aes-gcm`` for sealed
    pages, else the codec of a data page that has no parquet encoding every
    reader takes. None when they can."""
    from ..pages import ENCRYPTED_SUFFIX, kernel_ptype

    if any(m["compression"].endswith(ENCRYPTED_SUFFIX) for m, _ in pages):
        return ENCRYPTED_SUFFIX.lstrip("+")
    for m, _ in pages:
        if m["page"] >= 0 and m["codec"] not in _copy_codecs(kernel_ptype(m["ptype"])):
            return m["codec"]
    return None


def _engine_body(meta: dict, blob, compression: str):
    """(definition levels or None, uncompressed body size, body as written
    under ``compression``) of one engine page blob
    (``[flag][u32 vlen + RLE levels][body]``), after its engine CRC32
    matched: a copy never gives a corrupt blob a fresh, valid CRC. A body
    in another compression is transcoded: decompressed and compressed
    again, no value decoded."""
    import zlib

    from .. import compression as pagecomp
    from ..pages import split_page_blob

    if zlib.crc32(blob) & 0xFFFFFFFF != meta["crc32"]:
        raise IOError(f"page {meta['page']} CRC mismatch")
    mv = memoryview(blob)
    pos = split_page_blob(blob)
    levels = mv[5:pos] if blob[0] == 1 else None
    body = mv[pos:]
    if meta["compression"] == compression:
        if compression == "none":
            return levels, len(body), body
        # the engine's pyarrow-codec body: u32 raw length + the raw stream
        return levels, int.from_bytes(body[:4], "little"), body[4:]
    raw = pagecomp.decompress(body, meta["compression"])
    return levels, len(raw), _compress_body(raw, compression)


def _row_stat(kp: str, s: str | None):
    """Typed value of an engine page row's min/max (decimal strings,
    float ``repr``, truncation-sound strings as UTF-8); None when the row
    has none or the type's parquet order is not its value order here."""
    if s is None or kp not in ("string", *_STAT_DTYPE):
        return None
    if kp == "string":
        return s.encode()
    if kp in ("float32", "float64"):
        return None if s == "None" else float(s)  # all-NaN page
    return int(s)


def _stat_bytes(kp: str, v) -> bytes:
    """A typed bound in the spec's serialized form (as _minmax_bytes)."""
    return v if kp == "string" else np.array(v, _STAT_DTYPE[kp]).tobytes()


def _copy_engine_chunk(out: bytearray, name: str, ptype: str,
                      pages: list[tuple[dict, bytes]], n_rows: int,
                      optional: bool, compression: str | None,
                      index_out: list):
    """One flat column chunk written from the engine pages of one
    (split_id, batch_id) chunk (``(meta, blob)`` in page order; see
    :func:`_page_copy_refusal` for what qualifies), no value decoded: the
    dictionary page as a PLAIN dictionary page, each data page as a V2 page
    (the blob's levels, uncompressed, then its compressed body), the bloom
    row, CRC-checked, as the chunk's bloom filter (a row of the earlier
    hash scheme is left out: see ``pagetable.bloom_bits``), and the
    ColumnIndex/OffsetIndex entries into ``index_out`` from the page rows.
    ``optional`` columns need levels on every page: a page stored without
    them gets one all-defined RLE run. Returns (ColumnChunk writer, chunk
    byte size), like :func:`_write_flat_chunk`."""
    import collections

    from .. import pagetable
    from ..pages import BLOOM_PAGE, DICT_PAGE, kernel_ptype

    kp = kernel_ptype(ptype)
    to = compression or "none"
    chunk_start = len(out)
    data_off = dict_off = bloom_bits = lo = hi = None
    raw_total = nulls = first = 0
    enc_stats = collections.Counter()
    locs, null_pages, mins, maxs, null_counts = [], [], [], [], []
    stats_ok = True
    for meta, blob in pages:
        if meta["page"] == BLOOM_PAGE:
            bloom_bits = pagetable.bloom_bits(meta["codec"], meta["crc32"], blob)
            continue
        levels, raw_len, body = _engine_body(meta, blob, to)
        if meta["page"] == DICT_PAGE:
            dict_off = len(out)
            out += _page_header(PAGE_DICT, meta["n_rows"], ENC_PLAIN, raw_len,
                                len(body), body=body)
            out += body
            raw_total += raw_len
            enc_stats[PAGE_DICT, ENC_PLAIN] += 1
            continue
        if meta["codec"] == "dict" and dict_off is None:
            raise IOError(f"dict data page {meta['page']} without its chunk "
                          "dictionary page")
        n, nn = meta["n_rows"], meta["null_count"]
        if not optional:
            levels = b""
        elif levels is None:
            levels = rle.encode_hybrid(np.ones(n, dtype=np.uint64), 1)
        enc = PAGE_COPY_ENCODING[meta["codec"]]
        page_off = len(out)
        if data_off is None:
            data_off = page_off
        out += _page_header_v2(n, nn, enc, len(levels), raw_len, len(body),
                               to != "none", body=(levels, body))
        out += levels
        out += body
        raw_total += len(levels) + raw_len
        enc_stats[PAGE_DATA_V2, enc] += 1
        nulls += nn
        locs.append((page_off, len(out) - page_off, first))
        first += n
        null_pages.append(nn == n)
        null_counts.append(nn)
        mn, mx = _row_stat(kp, meta["min"]), _row_stat(kp, meta["max"])
        if mn is None or mx is None:
            stats_ok = stats_ok and nn == n
            mins.append(b"")
            maxs.append(b"")
            continue
        mins.append(_stat_bytes(kp, mn))
        maxs.append(_stat_bytes(kp, mx))
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    pages_size = len(out) - chunk_start
    bloom = (None, None) if bloom_bits is None else _emit_bloom(out, bloom_bits)
    stats_ok = stats_ok and not all(null_pages)
    statistics = StructWriter().i64(3, nulls)
    if stats_ok:
        statistics.binary(5, _stat_bytes(kp, hi)).binary(6, _stat_bytes(kp, lo))
    encodings = [e for _, e in enc_stats] + ([ENC_RLE] if optional else [])
    meta = _column_meta(
        ptype, encodings, name, compression,
        n_rows, raw_total, pages_size, data_off, dict_off, statistics,
        [(pt, e, c) for (pt, e), c in enc_stats.items()], bloom)
    cc = StructWriter().i64(2, chunk_start).struct(3, meta)
    index_out.append({
        "cc": cc, "locs": locs, "null_pages": null_pages, "mins": mins,
        "maxs": maxs, "null_counts": null_counts, "ptype": kp,
        "stats_ok": stats_ok,
    })
    return cc, len(out) - chunk_start


def write_engine_pages(path: str, row_groups, columns: list[dict],
                       compression: str | None) -> tuple[int, int, dict]:
    """Write a parquet file at ``path`` from engine pages by page copy —
    ParquetRewriter's rule (SURVEY §3.3). ``row_groups`` yields one
    ``{column name: [(meta, blob)] in page order}`` per row group;
    ``columns`` are ``{name, ptype, optional}`` in file order. Each column
    chunk is written by :func:`_copy_engine_chunk`, its bodies transcoded
    when their compression is not ``compression``; a chunk parquet cannot
    carry as it is is decoded and re-encoded as PLAIN by
    :func:`_write_flat_chunk`. Every chunk of a row group must hold its
    rows (``ValueError`` otherwise).

    The file is written under a temporary name and renamed at the end, so
    a failure (a blob that fails its engine CRC32 raises ``IOError``)
    leaves nothing at ``path``. Returns (rows, row groups, column chunks
    per decision: ``copied``, ``transcoded`` and the reason of each
    re-encode)."""
    import collections
    import os

    from ..pages import BLOOM_PAGE, decode_column

    out = bytearray(MAGIC)
    groups, index, done = [], [], collections.Counter({"copied": 0, "transcoded": 0})
    total = 0
    for group in row_groups:
        chunks, n_rows = [], None
        for col in columns:
            pages = group[col["name"]]
            n = sum(m["n_rows"] for m, _ in pages if m["page"] >= 0)
            if n_rows is None:
                n_rows = n
            if n != n_rows:
                raise ValueError(f"column {col['name']} has {n} rows in a row group "
                                 f"of {n_rows}")
            if not n:
                continue
            why = _page_copy_refusal(pages)
            if why is None:
                same = all(m["compression"] == (compression or "none")
                           for m, _ in pages if m["page"] != BLOOM_PAGE)
                done["copied" if same else "transcoded"] += 1
                chunks.append(_copy_engine_chunk(
                    out, col["name"], col["ptype"], pages, n, col["optional"],
                    compression, index))
                continue
            done[why] += 1
            values, validity = decode_column(pages)
            if col["optional"] and validity is None:
                validity = np.ones(n, dtype=bool)
            spec = {"name": col["name"], "ptype": col["ptype"], "codec": "plain",
                    "values": values, "validity": validity if col["optional"] else None,
                    # the interop writer hashes values the way parquet readers probe
                    "bloom": any(m["page"] == BLOOM_PAGE for m, _ in pages)}
            chunks.append(_write_flat_chunk(out, spec, n, compression, 1, n, index))
        if n_rows:
            groups.append((chunks, n_rows))
            total += n_rows
    if index:
        _emit_page_index(out, index)
    tmp = f"{path}.tmp{os.getpid()}"
    try:
        with open(tmp, "wb") as f:
            _finish_file(f, out, columns, total, groups)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return total, len(groups), done


def _boundary_order(e: dict):
    """BoundaryOrder over the non-null pages' typed min/max (0 UNORDERED,
    1 ASCENDING, 2 DESCENDING) — ColumnIndexBuilder.calculateBoundaryOrder
    analog. Readers may binary-search sorted indexes; claiming order
    wrongly would corrupt their results, so compare in TYPE space, not
    serialized-byte space (LE numeric bytes don't sort)."""
    pt = e["ptype"]

    def t(b):
        return b if pt in ("string", "binary") else \
            np.frombuffer(b, dtype=_STAT_DTYPE[pt])[0]

    idx = [i for i, is_null in enumerate(e["null_pages"]) if not is_null]
    mins = [t(e["mins"][i]) for i in idx]
    maxs = [t(e["maxs"][i]) for i in idx]
    pairs = list(range(len(idx) - 1))
    if all(mins[i] <= mins[i + 1] for i in pairs) and \
            all(maxs[i] <= maxs[i + 1] for i in pairs):
        return 1
    if all(mins[i] >= mins[i + 1] for i in pairs) and \
            all(maxs[i] >= maxs[i + 1] for i in pairs):
        return 2
    return 0


def _emit_page_index(out: bytearray, entries: list[dict]) -> None:
    """Page-index region after the last row group's data: every ColumnIndex,
    then every OffsetIndex (parquet-mr ParquetFileWriter.serializeColumn-
    Indexes/serializeOffsetIndexes order), ColumnChunk fields 4-7 pointing
    at them. Chunks whose type has no comparable stats get an OffsetIndex
    only (parquet-mr omits their ColumnIndex the same way)."""
    for e in entries:
        if not e["stats_ok"]:
            e["ci_span"] = None
            continue
        ci = (
            StructWriter()
            .list_bool(1, e["null_pages"])
            .list_binary(2, e["mins"])
            .list_binary(3, e["maxs"])
            .i32(4, _boundary_order(e))
            .list_i64(5, e["null_counts"])
            .finish()
        )
        e["ci_span"] = (len(out), len(ci))
        out += ci
    for e in entries:
        oi = StructWriter().list_struct(1, [
            StructWriter().i64(1, off).i32(2, sz).i64(3, first)
            for off, sz, first in e["locs"]
        ]).finish()
        oi_off = len(out)
        out += oi
        cc = e["cc"]
        cc.i64(4, oi_off).i32(5, len(oi))
        if e["ci_span"] is not None:
            cc.i64(6, e["ci_span"][0]).i32(7, e["ci_span"][1])


def _append_bloom(out: bytearray, col: dict, vals):
    """Split-block bloom filter (r6): BloomFilterHeader thrift + bitset,
    placed after the chunk's pages, referenced by ColumnMetaData fields
    14/15 (BloomFilterReader / ParquetFileWriter.addBloomFilter analog).
    Values hashed over their PLAIN encodings with XxHash64, the filter
    sized to their distinct count."""
    if not col.get("bloom"):
        return None, None
    from ..kernels import bloom as bloomk

    hashes = bloomk.plain_hashes(vals)
    if hashes is None or not len(hashes):
        return None, None
    hashes = np.unique(hashes)
    bf = bloomk.BlockSplitBloomFilter(bloomk.optimal_num_bytes(len(hashes)))
    bf.insert_hashes(hashes)
    return _emit_bloom(out, bf.serialize())


def _emit_bloom(out: bytearray, bits) -> tuple[int, int]:
    """BloomFilterHeader + the split-block bitset at the end of ``out``;
    returns ColumnMetaData fields 14/15 (offset, length)."""
    hdr = (
        StructWriter()
        .i32(1, len(bits))  # numBytes (bitset only)
        .struct(2, StructWriter().struct(1, StructWriter()))  # BLOCK
        .struct(3, StructWriter().struct(1, StructWriter()))  # XXHASH
        .struct(4, StructWriter().struct(1, StructWriter()))  # UNCOMP
        .finish()
    )
    bloom_off = len(out)
    out += hdr
    out += bits
    return bloom_off, len(hdr) + len(bits)


def _finish_file(fobj, out: bytearray, columns: list[dict],
                 n_rows: int, row_groups) -> None:
    """Schema + FileMetaData emission over the already-written page
    bytes; one RowGroup struct per band (multi-row-group since r6)."""
    root = (
        StructWriter().i32(3, 0).string(4, "schema").i32(5, len(columns))
    )  # repetition REQUIRED(0) is ignored on root but duckdb wants it present
    schema = [root]
    for col in columns:
        if col["ptype"] == "variant":
            # unshredded VARIANT group (parquet-format VariantEncoding.md /
            # LogicalTypeAnnotation.java:1189): required group name (VARIANT)
            # { required binary metadata; required binary value; }. LogicalType
            # union field 16 = VariantType{1: specification_version(i8)}.
            group = StructWriter().i32(3, 0).string(4, col["name"]).i32(5, 2)
            if col.get("annotate", True):
                group.struct(10, StructWriter().struct(16, StructWriter().i8(1, 1)))
            else:
                # legacy readers (pyarrow <18 thrift) reject UNKNOWN LogicalType
                # union members outright; annotate=False keeps the same
                # (metadata, value) group readable as a plain struct there
                pass
            schema.append(group)
            for leaf in ("metadata", "value"):
                schema.append(
                    StructWriter().i32(1, TYPE["binary"]).i32(3, 0).string(4, leaf)
                )
            continue
        if col["ptype"] == "struct":
            # optional/required group of primitive leaves (no annotation)
            group = StructWriter().i32(
                3, 1 if col.get("validity") is not None else 0
            ).string(4, col["name"]).i32(5, len(col["fields"]))
            schema.append(group)
            for f in col["fields"]:
                pt, tlen = _physical(f["ptype"])
                se = StructWriter().i32(1, pt)
                if tlen is not None:
                    se.i32(2, tlen)
                se.i32(3, 1 if f.get("validity") is not None else 0)
                se.string(4, f["name"])
                _annotate(se, f["ptype"])
                schema.append(se)
            continue
        if col["ptype"].startswith("map<"):
            kp, vp = col["ptype"][4:-1].split(",", 1)
            # optional group (MAP) / repeated group key_value /
            # required key + optional value — the spec's standard shape
            schema.append(
                StructWriter().i32(3, 1).string(4, col["name"]).i32(5, 1)
                .i32(6, 1)  # ConvertedType MAP
                .struct(10, StructWriter().struct(2, StructWriter()))
            )
            schema.append(
                StructWriter().i32(3, 2).string(4, "key_value").i32(5, 2)
            )
            for leaf, lpt, repn in (("key", kp, 0), ("value", vp, 1)):
                pt, tlen = _physical(lpt)
                se = StructWriter().i32(1, pt)
                if tlen is not None:
                    se.i32(2, tlen)
                se.i32(3, repn).string(4, leaf)
                _annotate(se, lpt)
                schema.append(se)
            continue
        if col["ptype"].startswith("list<"):
            cp = col["ptype"][5:-1]
            # optional group name (LIST) / repeated group list / optional element
            schema.append(
                StructWriter().i32(3, 1).string(4, col["name"]).i32(5, 1).i32(6, 3)
            )
            schema.append(StructWriter().i32(3, 2).string(4, "list").i32(5, 1))
            el = StructWriter().i32(1, TYPE[cp]).i32(3, 1).string(4, "element")
            if cp == "string":
                el.i32(6, 0)  # ConvertedType UTF8
            schema.append(el)
            continue
        pt, tlen = _physical(col["ptype"])
        se = StructWriter().i32(1, pt)
        if tlen is not None:
            se.i32(2, tlen)
        se.i32(3, 1 if col.get("optional", col.get("validity") is not None) else 0)
        se.string(4, col["name"])
        _annotate(se, col["ptype"])
        schema.append(se)
    rgs = []
    for chunks, nr in row_groups:
        rgs.append(
            StructWriter()
            .list_struct(1, [c for c, _ in chunks])
            .i64(2, sum(sz for _, sz in chunks))
            .i64(3, nr)
        )
    # column_orders (field 7): one TypeDefinedOrder per leaf — without it
    # the spec forbids readers from trusting min_value/max_value, so
    # pyarrow/DuckDB would ignore the chunk Statistics we emit (r6)
    n_leaves = len(row_groups[0][0]) if row_groups and row_groups[0][0] else 0
    orders = [StructWriter().struct(1, StructWriter()) for _ in range(n_leaves)]
    fmeta = (
        StructWriter()
        .i32(1, 2)
        .list_struct(2, schema)
        .i64(3, n_rows)
        .list_struct(4, rgs)
        .string(6, CREATED_BY)
        .list_struct(7, orders)
        .finish()
    )
    out += fmeta
    out += len(fmeta).to_bytes(4, "little")
    out += MAGIC
    fobj.write(out)


def _list_page_header(n_values: int, enc: int, raw_size: int,
                      comp_size: int, body=None) -> bytes:
    inner = (
        StructWriter().i32(1, n_values).i32(2, enc).i32(3, ENC_RLE).i32(4, ENC_RLE)
    )
    hdr = (
        StructWriter()
        .i32(1, PAGE_DATA)
        .i32(2, raw_size)
        .i32(3, comp_size)
    )
    if body is not None:
        hdr.i32(4, _crc32_signed(body))
    return hdr.struct(5, inner).finish()


def _write_list_chunk(out: bytearray, col: dict, n_rows: int,
                      compression: str | None):
    """One column chunk for a 3-level LIST: V1 data page =
    [rep RLE u32-prefixed][def RLE u32-prefixed][PLAIN child values].
    Levels from nested.build_levels — max_rep 1, max_def 3 (null list /
    empty list / null element / present)."""
    from ..nested import build_levels

    name = col["name"]
    cp = col["ptype"][5:-1]
    lc = col["values"]  # nested.ListColumn
    rep, dfl = build_levels(lc.lengths, lc.list_validity, lc.child_validity)
    rep_b = rle.encode_hybrid_length_prefixed(rep, 1)
    def_b = rle.encode_hybrid_length_prefixed(dfl, 2)
    if cp in ("string", "binary"):
        body = plain.encode_plain_bytes(lc.child_values)
    elif cp == "bool":
        body = plain.encode_plain_bool(lc.child_values)
    else:
        body = plain.encode_plain_numeric(lc.child_values)
    page_body = rep_b + def_b + body
    comp_body = _compress_body(page_body, compression)
    chunk_start = len(out)
    data_off = len(out)
    out += _list_page_header(len(rep), ENC_PLAIN, len(page_body),
                             len(comp_body), body=comp_body)
    out += comp_body
    meta = (
        StructWriter()
        .i32(1, TYPE[cp])
        .list_i32(2, sorted({ENC_RLE, ENC_PLAIN}))
        .list_string(3, [name, "list", "element"])
        .i32(4, CODEC_ENUM[compression])
        .i64(5, len(rep))
        .i64(6, len(page_body))
        .i64(7, len(out) - chunk_start)
        .i64(9, data_off)
    )
    cc = StructWriter().i64(2, chunk_start).struct(3, meta)
    return (cc, len(out) - chunk_start)


def _write_variant_chunks(out: bytearray, col: dict, n_rows: int,
                          compression: str | None):
    """Two column chunks for an unshredded VARIANT group: the binary
    ``metadata`` and ``value`` leaves, each one V1 PLAIN byte-array data page
    with no level streams (required group, required leaves). ``values`` is a
    (metadata RaggedBytes, value RaggedBytes) pair from
    variant_binary.obj_to_variant — the layout parquet-variant's Variant.java
    consumes."""
    name = col["name"]
    meta_col, value_col = col["values"]
    chunks = []
    for leaf, rb in (("metadata", meta_col), ("value", value_col)):
        if len(rb) != n_rows:
            raise ValueError(f"variant {leaf} count {len(rb)} != n_rows {n_rows}")
        body = plain.encode_plain_bytes(rb)
        comp_body = _compress_body(body, compression)
        chunk_start = len(out)
        out += _page_header(PAGE_DATA, n_rows, ENC_PLAIN, len(body),
                            len(comp_body), body=comp_body)
        out += comp_body
        meta = (
            StructWriter()
            .i32(1, TYPE["binary"])
            .list_i32(2, sorted({ENC_RLE, ENC_PLAIN}))
            .list_string(3, [name, leaf])
            .i32(4, CODEC_ENUM[compression])
            .i64(5, n_rows)
            .i64(6, len(body))
            .i64(7, len(out) - chunk_start)
            .i64(9, chunk_start)
        )
        cc = StructWriter().i64(2, chunk_start).struct(3, meta)
        chunks.append((cc, len(out) - chunk_start))
    return chunks


def _plain_child_body(cp: str, vals) -> bytes:
    if cp in ("string", "binary"):
        return plain.encode_plain_bytes(vals)
    if cp == "bool":
        return plain.encode_plain_bool(vals)
    if _physical(cp)[0] == FLBA:
        return np.ascontiguousarray(vals, dtype=np.uint8).tobytes()
    return plain.encode_plain_numeric(vals)


def _write_struct_chunks(out: bytearray, col: dict, n_rows: int,
                         compression: str | None):
    """One column chunk per STRUCT field. Definition levels are computed
    from the struct validity (level ``so``) plus the field validity (level
    ``so+1``): def 0 = struct null, so = field null, max_def = value —
    the generalized (non-repeated) Dremel alphabet. ``col['fields']`` hold
    kernel-form values over NON-NULL-struct rows (packed further by the
    field's own validity)."""
    name = col["name"]
    sv = col.get("validity")
    so = 1 if sv is not None else 0
    m = int(np.asarray(sv).sum()) if sv is not None else n_rows
    chunks = []
    for f in col["fields"]:
        fv = f.get("validity")
        fo = 1 if fv is not None else 0
        max_def = so + fo
        defs = np.zeros(n_rows, dtype=np.uint64)
        inner = np.full(m, max_def, dtype=np.uint64)
        if fv is not None:
            inner[~np.asarray(fv, dtype=bool)] = so
        if sv is not None:
            defs[np.asarray(sv, dtype=bool)] = inner
        else:
            defs = inner
        width = max(max_def.bit_length(), 1)
        def_b = rle.encode_hybrid_length_prefixed(defs, width) if max_def \
            else b""
        body = _plain_child_body(f["ptype"], f["values"])
        page_body = def_b + body
        comp_body = _compress_body(page_body, compression)
        chunk_start = len(out)
        out += _page_header(PAGE_DATA, n_rows, ENC_PLAIN, len(page_body),
                            len(comp_body), body=comp_body)
        out += comp_body
        meta = (
            StructWriter()
            .i32(1, _physical(f["ptype"])[0])
            .list_i32(2, sorted({ENC_RLE, ENC_PLAIN}))
            .list_string(3, [name, f["name"]])
            .i32(4, CODEC_ENUM[compression])
            .i64(5, n_rows)
            .i64(6, len(page_body))
            .i64(7, len(out) - chunk_start)
            .i64(9, chunk_start)
        )
        cc = StructWriter().i64(2, chunk_start).struct(3, meta)
        chunks.append((cc, len(out) - chunk_start))
    return chunks


def _write_map_chunks(out: bytearray, col: dict, n_rows: int,
                      compression: str | None):
    """Two column chunks for a MAP group (key, value leaves). Levels come
    from nested.build_levels' canonical 0..3 alphabet, remapped to each
    leaf's file alphabet: key max_def = 2 (map optional + repeated,
    required key), value max_def = 3."""
    from ..nested import build_levels

    name = col["name"]
    keys, items = col["values"]  # nested.ListColumn pair, shared offsets
    if not np.array_equal(keys.offsets, items.offsets):
        raise ValueError(f"map {name!r}: key/value offsets disagree")
    if keys.child_validity is not None:
        raise ValueError(f"map {name!r}: keys must be non-null")
    chunks = []
    for leaf, lc, lpt, eo in (
        ("key", keys, col["ptype"][4:-1].split(",", 1)[0], 0),
        ("value", items, col["ptype"][4:-1].split(",", 1)[1], 1),
    ):
        rep, canon = build_levels(lc.lengths, lc.list_validity,
                                  lc.child_validity if eo else None)
        max_def = 2 + eo
        inv = np.array([0, 1, 2, max_def], dtype=np.uint64)
        dfl = inv[canon.astype(np.int64)]
        rep_b = rle.encode_hybrid_length_prefixed(rep, 1)
        def_b = rle.encode_hybrid_length_prefixed(dfl, 2)
        body = _plain_child_body(lpt, lc.child_values)
        page_body = rep_b + def_b + body
        comp_body = _compress_body(page_body, compression)
        chunk_start = len(out)
        out += _list_page_header(len(rep), ENC_PLAIN, len(page_body),
                                 len(comp_body), body=comp_body)
        out += comp_body
        meta = (
            StructWriter()
            .i32(1, _physical(lpt)[0])
            .list_i32(2, sorted({ENC_RLE, ENC_PLAIN}))
            .list_string(3, [name, "key_value", leaf])
            .i32(4, CODEC_ENUM[compression])
            .i64(5, len(rep))
            .i64(6, len(page_body))
            .i64(7, len(out) - chunk_start)
            .i64(9, chunk_start)
        )
        cc = StructWriter().i64(2, chunk_start).struct(3, meta)
        chunks.append((cc, len(out) - chunk_start))
    return chunks


def _page_header_v2(n_values: int, n_nulls: int, enc: int, def_len: int,
                    raw_vals: int, comp_vals: int, is_compressed: bool,
                    body=()) -> bytes:
    """PageHeader with DataHeaderV2 (parquet-format: num_values, num_nulls,
    num_rows, encoding, definition_levels_byte_length,
    repetition_levels_byte_length, is_compressed). ``body``: the page's
    bytes as written, as a sequence of parts (levels, values) for the
    CRC."""
    inner = (
        StructWriter()
        .i32(1, n_values)
        .i32(2, n_nulls)
        .i32(3, n_values)  # num_rows == num_values for flat columns
        .i32(4, enc)
        .i32(5, def_len)
        .i32(6, 0)  # no rep levels (flat)
        .boolean(7, is_compressed)
    )
    raw_size = def_len + raw_vals
    comp_size = def_len + comp_vals
    hdr = (
        StructWriter()
        .i32(1, PAGE_DATA_V2)
        .i32(2, raw_size)
        .i32(3, comp_size)
    )
    if body:
        hdr.i32(4, _crc32_signed(*body))
    return hdr.struct(8, inner).finish()
