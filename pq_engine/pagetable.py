"""The page table's shape, and every rewrite of it as one Arrow function.

A page table holds one row per page of each ``(split_id, batch_id, column)``
chunk (:data:`PAGE_ARROW`). This module owns that shape:

* :class:`Chunks` groups a table by chunk once (one sort, zero-copy slices);
* :func:`page_rows` is the one builder from ``(meta, blob)`` lists to rows;
* each rewrite is one ``fn(tbl: pa.Table) -> pa.Table``: :func:`transcode`,
  :func:`nullify`, :func:`rename`, :func:`encrypt`, :func:`decrypt`, and
  mask-hash's two halves around an md5 step (:func:`mask_values`,
  :func:`masked_pages`);
* :func:`_arrow_to_values` / :func:`_values_to_arrow` move column values
  between Arrow and kernel form for the encoder, the decoder and mask-hash.

It imports no pyspark. The CLI calls the rewrites in process on a loaded
table; ``spark/rewrite.py`` and ``spark/crypto.py`` run the same functions
on Arrow batches: ``mapInArrow`` where they work per page row (no shuffle),
``applyInArrow`` per chunk for mask-hash (ParquetRewriter's one rewriter
behind both its CLI and its API, SURVEY §3.3).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .compression import compress, decompress
from .kernels import rle
from .kernels.ragged import RaggedBytes
from .pages import (
    BLOOM_CODEC,
    BLOOM_PAGE,
    COLINDEX_PAGE,
    ENCRYPTED_SUFFIX,
    GEO_PAGE,
    RAGGED_TYPES,
    RAW_COPY_PAGES,
    ROWRANGES_PAGE,
    SIZESTATS_PAGE,
    decode_column,
    encode_column,
    split_page_blob,
)

PAGE_ARROW = pa.schema(
    [
        ("split_id", pa.int32()),
        ("batch_id", pa.int32()),
        ("column", pa.string()),
        ("page", pa.int32()),
        ("codec", pa.string()),
        ("ptype", pa.string()),
        ("first_row", pa.int64()),
        ("n_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("compression", pa.string()),
        ("min", pa.string()),
        ("max", pa.string()),
        ("ndv", pa.int64()),
        ("data", pa.large_binary()),
    ]
)

# the fields of a page row that describe its page, in PAGE_ARROW order
_META_FIELDS = PAGE_ARROW.names[3:-1]

_PAGE_FIELDS = ("page", "codec", "ptype", "n_rows", "null_count", "crc32", "compression",
                "min", "max")


class Chunks:
    """The page table grouped once: one stable sort of its chunk rows
    (data, dictionary and bloom pages: ``page >= -2``; ``decode_column``
    skips the bloom rows) by (column, split_id, batch_id, page), sliced per
    chunk. ``columns`` and ``keys`` are the sorted distinct columns and
    (split_id, batch_id) pairs of the whole table. Page bodies are
    materialised one chunk at a time, when :meth:`pages` asks for them."""

    def __init__(self, tbl: pa.Table):
        split = tbl["split_id"].to_numpy()
        batch = tbl["batch_id"].to_numpy()
        self.columns = sorted(pc.unique(tbl["column"]).to_pylist())
        self.keys = sorted(set(zip(split.tolist(), batch.tolist())))
        keep = np.flatnonzero(tbl["page"].to_numpy() >= -2)
        by = ["column", "split_id", "batch_id", "page"]
        heads = tbl.select(by).take(keep)
        order = pc.sort_indices(heads, sort_keys=[(k, "ascending") for k in by]).to_numpy()
        self._rows = keep[order]
        heads = heads.take(order)
        new = np.zeros(len(order), dtype=bool)
        new[:1] = True
        for k in by[:3]:
            new[1:] |= pc.not_equal(heads[k][1:], heads[k][:-1]).to_numpy()
        starts = np.flatnonzero(new)
        ends = [*starts[1:].tolist(), len(order)]
        heads = heads.take(starts)
        chunk_keys = zip(*(heads[k].to_pylist() for k in by[:3]))
        self._slices = dict(zip(chunk_keys, zip(starts.tolist(), ends)))
        self._tbl = tbl

    def chunk(self, split, batch, column) -> pa.Table:
        """One chunk's rows of the page table, in page order, cut out as
        zero-copy slices, one per run of consecutive rows (``Table.take``
        would first concatenate every chunk of the table)."""
        a, b = self._slices.get((column, split, batch), (0, 0))
        rows = self._rows[a:b]
        if not len(rows):
            return self._tbl.slice(0, 0)
        runs = np.split(rows, np.flatnonzero(np.diff(rows) != 1) + 1)
        return pa.concat_tables(self._tbl.slice(r[0], len(r)) for r in runs)

    def pages(self, split, batch, column) -> list[tuple[dict, bytes]]:
        """One chunk's ``(meta, body)`` pages, in page order."""
        sub = self.chunk(split, batch, column).select([*_PAGE_FIELDS, "data"]).to_pydict()
        bodies = sub.pop("data")
        return [(dict(zip(_PAGE_FIELDS, meta)), body) for *meta, body in zip(*sub.values(), bodies)]


def page_rows(split: int, batch: int, columns) -> pa.RecordBatch:
    """One record batch of page-table rows: the pages of every
    ``(column, [(meta, blob), ...])`` of ``columns`` under one
    ``(split_id, batch_id)``, in the order given."""
    names, metas, blobs = [], [], []
    for name, pages in columns:
        for meta, blob in pages:
            names.append(name)
            metas.append(meta)
            blobs.append(blob)
    n = len(names)
    fields = {"split_id": [split] * n, "batch_id": [batch] * n, "column": names, "data": blobs}
    fields.update((k, [m[k] for m in metas]) for k in _META_FIELDS)
    return pa.RecordBatch.from_pydict(fields, schema=PAGE_ARROW)


def _replace(tbl: pa.Table, **columns) -> pa.Table:
    """``tbl`` with the named columns replaced by lists, each kept at its
    field's type (a loaded page table or a Spark batch keeps its schema)."""
    for name, values in columns.items():
        i = tbl.schema.get_field_index(name)
        field = tbl.schema.field(i)
        tbl = tbl.set_column(i, field, pa.array(values, field.type))
    return tbl


def _crc32(blob) -> int:
    return zlib.crc32(blob) & 0xFFFFFFFF


def _unchecked(page: int, codec: str) -> bool:
    """A bloom row of the earlier hash scheme: it carries crc32 0."""
    return page == BLOOM_PAGE and codec != BLOOM_CODEC


def _checked(page: int, codec: str, crc: int, blob: bytes) -> bytes:
    """``blob``, after checking it against its row's ``crc32``, raising
    ``IOError`` on a mismatch (:func:`_unchecked` rows excepted): a rewrite
    that gave a corrupt page a new CRC would make its damage undetectable."""
    if not _unchecked(page, codec) and _crc32(blob) != crc:
        raise IOError(f"page {page} CRC mismatch")
    return blob


def bloom_bits(codec: str, crc: int, blob: bytes) -> bytes | None:
    """The bitset of a bloom row after its CRC check, or None for a row of
    the earlier hash scheme: a probe hashed by ``kernels.bloom`` would find
    its present values absent, so it disproves nothing and is not exported."""
    return None if codec != BLOOM_CODEC else _checked(BLOOM_PAGE, codec, crc, blob)


# ---------------------------------------------------------------- rewrites


def transcode(tbl: pa.Table, to: str | None) -> pa.Table:
    """Page bodies recompressed to ``to`` (None: uncompressed), the
    ParquetRewriter trans-compression: a page already in ``to`` and the
    index rows are copied as they are; any other page is CRC-checked, its
    body decompressed and compressed again, its levels and values never
    decoded. Dictionary pages share the data pages' framing and transcode
    with them. A sealed page (:func:`encrypt`) raises ``ValueError``: its
    body is ciphertext, to be decrypted first."""
    to = to or "none"
    column, page, codec, comp, crc, size, data = (tbl[k].to_pylist() for k in (
        "column", "page", "codec", "compression", "crc32", "encoded_bytes", "data"))
    for i, p in enumerate(page):
        if comp[i] == to or p in (*RAW_COPY_PAGES, ROWRANGES_PAGE):
            continue
        if comp[i].endswith(ENCRYPTED_SUFFIX):
            raise ValueError(f"column {column[i]!r} is encrypted: decrypt it before "
                             f"changing its compression")
        blob = _checked(p, codec[i], crc[i], data[i])
        pos = split_page_blob(blob)  # handles flat, validity AND list layouts
        data[i] = blob[:pos] + compress(decompress(blob[pos:], comp[i]), to)
        comp[i], size[i], crc[i] = to, len(data[i]), _crc32(data[i])
    return _replace(tbl, data=data, compression=comp, encoded_bytes=size, crc32=crc)


def nullify(tbl: pa.Table, column: str) -> pa.Table:
    """``column`` masked to NULL, row counts kept, nothing decoded: each of
    its data pages becomes an all-null page of as many rows (a validity
    stream and no value body: PLAIN, uncompressed, ``raw_bytes`` 0, no
    stats). Its index rows (dictionary, bloom, column index, ...) are
    dropped: a nullified column has no values to index."""
    ours = pc.equal(tbl["column"], column)
    rest = tbl.filter(pc.invert(ours))
    pages = tbl.filter(pc.and_(ours, pc.greater_equal(tbl["page"], 0)))
    rows = pages["n_rows"].to_pylist()
    blob_of = {n: bytes([1]) + rle.encode_hybrid_length_prefixed(np.zeros(n, np.uint64), 1)
               for n in set(rows)}
    blobs = [blob_of[n] for n in rows]
    k = len(rows)
    pages = _replace(
        pages, codec=["plain"] * k, null_count=rows, raw_bytes=[0] * k,
        encoded_bytes=[len(b) for b in blobs], crc32=[_crc32(b) for b in blobs],
        compression=["none"] * k, min=[None] * k, max=[None] * k, ndv=[0] * k, data=blobs,
    )
    return pa.concat_tables([rest, pages])


def check_rename(existing, mapping: dict[str, str]) -> None:
    """Raise ``ValueError`` unless ``mapping`` renames present columns to
    distinct names no other column of ``existing`` holds (the reference
    validates the same)."""
    existing = set(existing)
    missing = set(mapping) - existing
    if missing:
        raise ValueError(f"rename of absent column(s): {sorted(missing)}")
    targets = set(mapping.values())
    if len(targets) != len(mapping):
        raise ValueError("rename targets collide with each other")
    clash = targets & (existing - set(mapping))
    if clash:
        raise ValueError(f"rename targets collide with existing column(s): {sorted(clash)}")


def rename(tbl: pa.Table, mapping: dict[str, str]) -> pa.Table:
    """Columns renamed, page bytes untouched (ParquetRewriter renaming)."""
    names = tbl["column"].to_pylist()
    check_rename(names, mapping)
    return _replace(tbl, column=[mapping.get(c, c) for c in names])


MODULE_DATA_PAGE = 2  # ModuleCipherFactory.ModuleType.DataPage ordinal


def page_aad(prefix: bytes, split: int, batch: int, column: str, page: int) -> bytes:
    """The additional authenticated data that binds a sealed page to its
    position ``(module type, split, batch, column, page)``."""
    return prefix + bytes([MODULE_DATA_PAGE]) + struct.pack("<iii", split, batch, page) + column.encode()


def encrypt(tbl: pa.Table, keys: dict[str, bytes], aad_prefix: bytes = b"") -> pa.Table:
    """Every row of a keyed column sealed with AES-GCM under its column's
    key (row-ranges rows excepted): ``12-byte nonce || ciphertext+tag``,
    ``+aes-gcm`` appended to ``compression``. A page's blob is CRC-checked
    first, and its (min, max, ndv) travel inside the ciphertext; the
    metadata-only rows (column index, geostats, size stats) seal the
    payload of their ``min``. The row's ``crc32`` then covers the
    ciphertext: a plaintext checksum beside AES-GCM would be a 32-bit
    confirmation oracle for guessable page contents."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    ciphers = {c: AESGCM(k) for c, k in keys.items()}
    split, batch, column, page, codec, comp, crc, mn, mx, ndv, data = (
        tbl[k].to_pylist() for k in ("split_id", "batch_id", "column", "page", "codec",
                                     "compression", "crc32", "min", "max", "ndv", "data"))
    for i, c in enumerate(column):
        if c not in ciphers or page[i] == ROWRANGES_PAGE:
            continue
        if page[i] in (COLINDEX_PAGE, GEO_PAGE, SIZESTATS_PAGE):
            pt = (mn[i] or "").encode()
        else:
            hdr = json.dumps([mn[i], mx[i], ndv[i]]).encode()
            blob = _checked(page[i], codec[i], crc[i], data[i])
            pt = len(hdr).to_bytes(4, "little") + hdr + blob
        nonce = os.urandom(12)
        aad = page_aad(aad_prefix, split[i], batch[i], c, page[i])
        data[i] = nonce + ciphers[c].encrypt(nonce, pt, aad)
        comp[i] += ENCRYPTED_SUFFIX
        crc[i], mn[i], mx[i], ndv[i] = _crc32(data[i]), None, None, -1
    return _replace(tbl, data=data, compression=comp, crc32=crc, min=mn, max=mx, ndv=ndv,
                    encoded_bytes=[len(d) for d in data])


def decrypt(tbl: pa.Table, keys: dict[str, bytes], aad_prefix: bytes = b"") -> pa.Table:
    """Inverse of :func:`encrypt`. GCM authentication makes every sealed
    row tamper-evident (a wrong key, a flipped bit or a moved page raises);
    a sealed row of a column without a key raises ``PermissionError``."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    ciphers = {c: AESGCM(k) for c, k in keys.items()}
    split, batch, column, page, codec, comp, size, crc, mn, mx, ndv, data = (
        tbl[k].to_pylist() for k in ("split_id", "batch_id", "column", "page", "codec",
                                     "compression", "encoded_bytes", "crc32", "min", "max",
                                     "ndv", "data"))
    for i, c in enumerate(column):
        if not comp[i].endswith(ENCRYPTED_SUFFIX):
            continue
        if c not in ciphers:
            raise PermissionError(f"no key for encrypted column {c!r}")
        blob = data[i]
        aad = page_aad(aad_prefix, split[i], batch[i], c, page[i])
        pt = ciphers[c].decrypt(blob[:12], blob[12:], aad)
        if page[i] in (COLINDEX_PAGE, GEO_PAGE, SIZESTATS_PAGE):
            payload = pt.decode() if pt else None
            data[i], mn[i], mx[i], ndv[i] = b"", payload, payload, -1
        else:
            hlen = int.from_bytes(pt[:4], "little")
            mn[i], mx[i], ndv[i] = json.loads(pt[4 : 4 + hlen])
            data[i] = pt[4 + hlen :]
        size[i] = len(data[i])
        # the plaintext CRC, recomputed after authentication
        crc[i] = 0 if _unchecked(page[i], codec[i]) else _crc32(data[i])
        comp[i] = comp[i][: -len(ENCRYPTED_SUFFIX)]
    return _replace(tbl, data=data, compression=comp, encoded_bytes=size, crc32=crc,
                    min=mn, max=mx, ndv=ndv)


MASK_VALUES = pa.schema(
    [("split_id", pa.int32()), ("batch_id", pa.int32()), ("ord", pa.int64()), ("v", pa.binary())]
)


def mask_values(tbl: pa.Table, column: str) -> pa.Table:
    """Mask-hash's decode half: the values of ``column`` as
    ``(split_id, batch_id, ord, v)`` rows (:data:`MASK_VALUES`), ``ord`` the
    row's position in its chunk, ``v`` NULL for a null. Raises
    ``TypeError`` unless the column is string or binary."""
    chunks = Chunks(tbl)
    parts = []
    for split, batch in chunks.keys:
        pages = chunks.pages(split, batch, column)
        if not pages:
            continue
        ptype = pages[-1][0]["ptype"]
        if ptype not in RAGGED_TYPES:
            raise TypeError(f"mask-hash requires a string/binary column; {column!r} is "
                            f"{ptype} (mask it with nullify)")
        v = _values_to_arrow(*decode_column(pages), "binary")
        n = len(v)
        parts.append(pa.table([pa.array(np.full(n, split, np.int32)),
                               pa.array(np.full(n, batch, np.int32)),
                               pa.array(np.arange(n, dtype=np.int64)), v], schema=MASK_VALUES))
    return pa.concat_tables(parts) if parts else MASK_VALUES.empty_table()


def masked_pages(tbl: pa.Table, column: str) -> pa.Table:
    """Mask-hash's encode half: the page rows of ``column`` from
    ``(split_id, batch_id, ord, v)`` rows whose ``v`` holds the masked
    strings, each chunk's values encoded in ``ord`` order."""
    tbl = tbl.sort_by([("split_id", "ascending"), ("batch_id", "ascending"), ("ord", "ascending")])
    split, batch = tbl["split_id"].to_numpy(), tbl["batch_id"].to_numpy()
    new = np.ones(len(split), dtype=bool)
    new[1:] = (split[1:] != split[:-1]) | (batch[1:] != batch[:-1])
    starts = np.flatnonzero(new)
    batches = []
    for a, b in zip(starts.tolist(), [*starts[1:].tolist(), tbl.num_rows]):
        values, validity = _arrow_to_values(tbl["v"].slice(a, b - a), "string")
        pages = encode_column(values, "string", validity=validity)
        batches.append(page_rows(int(split[a]), int(batch[a]), [(column, pages)]))
    return pa.Table.from_batches(batches, PAGE_ARROW)


# ---------------------------------------------------------------- arrow <-> kernels


def _arrow_to_values(arr: pa.Array, ptype: str):
    """Split an Arrow array into (non-null values in kernel form, validity|None)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if ptype.startswith("list<"):
        import pyarrow.compute as pc

        from .nested import ListColumn, child_ptype

        cp = child_ptype(ptype)
        lv = np.asarray(arr.is_valid()) if arr.null_count else None
        lens = np.asarray(pc.list_value_length(arr).fill_null(0)).astype(np.int64)
        offsets = np.zeros(len(arr) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        child = pc.list_flatten(arr)  # valid lists' elements, element nulls kept
        cvals, cvalid = _arrow_to_values(child, cp)
        return ListColumn(offsets, lv, cvals, cvalid), None
    if ptype in RAGGED_TYPES or ptype in ("geometry", "geography"):  # WKB binary
        # nullable fast path: compacts offsets without copying the data
        # buffer when null slots are empty (drop_null copies the whole column)
        return RaggedBytes.from_arrow_nullable(
            arr.cast(pa.binary()) if ptype in ("geometry", "geography") else arr
        )
    validity = None
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
        arr = arr.drop_null()
    if ptype in ("timestamp_us", "timestamp_ntz_us"):
        ts = arr.cast(pa.timestamp("us"))
        vals = np.asarray(ts.cast(pa.int64()))
        return vals.astype(np.int64, copy=False), validity
    if ptype == "date32":
        return np.asarray(arr.cast(pa.int32())), validity
    if ptype.startswith("decimal64["):
        # decimal128 storage IS the unscaled int128 LE; precision <= 18 fits
        # the low word (sign carried by two's complement)
        words = np.frombuffer(arr.buffers()[1], dtype="<u8").reshape(-1, 2)
        lo = words[arr.offset : arr.offset + len(arr), 0]
        return lo.view(np.int64).astype(np.int64), validity
    if ptype.startswith("decimal_flba["):
        from .kernels import fixedlen as fl

        p, _ = map(int, ptype[13:-1].split(","))
        raw = np.frombuffer(arr.buffers()[1], dtype=np.uint8).reshape(-1, 16)
        rows = raw[arr.offset : arr.offset + len(arr)]
        return fl.decimal128_to_fixed(rows, fl.decimal_byte_width(p)), validity
    if ptype == "uuid":
        from .kernels import fixedlen as fl

        rb = RaggedBytes.from_arrow(arr.cast(pa.string()))
        if len(rb) and not (rb.lengths == 36).all():
            raise ValueError("uuid column values must be canonical 36-char form")
        return fl.uuid_strings_to_fixed(rb.data.reshape(-1, 36)), validity
    if ptype == "float16":
        from .kernels import fixedlen as fl

        return fl.float32_to_fixed16(np.asarray(arr.cast(pa.float32()))), validity
    if ptype == "int96_ts":
        from .kernels import fixedlen as fl

        us = np.asarray(arr.cast(pa.timestamp("us")).cast(pa.int64()))
        return fl.us_to_int96(us.astype(np.int64)), validity
    if ptype == "interval":
        from .kernels import fixedlen as fl

        m, d, ms = (np.asarray(c.cast(pa.int32())) for c in arr.flatten())
        return fl.interval_to_fixed(m, d, ms), validity
    if ptype.startswith("fixed["):
        k = int(ptype[6:-1])
        if arr.type == pa.binary(k):
            # the data buffer read at the array's offset, as for decimal64:
            # pyarrow 16 crashes casting a sliced FixedSizeBinary array
            data = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
            return data[arr.offset * k : (arr.offset + len(arr)) * k].reshape(-1, k), validity
        rb = RaggedBytes.from_arrow(arr.cast(pa.binary()))
        if len(rb) and not (rb.lengths == k).all():
            raise ValueError(f"fixed[{k}] column has values of other lengths")
        return rb.data.reshape(-1, k), validity
    if ptype == "bool":
        return np.asarray(arr), validity
    np_dtype = {"int32": np.int32, "int64": np.int64, "float32": np.float32, "float64": np.float64}[ptype]
    return np.asarray(arr).astype(np_dtype, copy=False), validity


def _values_to_arrow(values, validity, ptype: str) -> pa.Array:
    if ptype.startswith("list<"):
        from .nested import child_ptype

        cp = child_ptype(ptype)
        child_arr = _values_to_arrow(values.child_values, values.child_validity, cp)
        offsets = pa.array(values.offsets.astype(np.int32), pa.int32())
        if values.list_validity is None:
            return pa.ListArray.from_arrays(offsets, child_arr)
        return pa.ListArray.from_arrays(
            offsets, child_arr, mask=pa.array(~values.list_validity)
        )
    if ptype in RAGGED_TYPES or ptype in ("geometry", "geography"):
        dense = values.to_arrow(large=False, binary=(ptype != "string"))
    elif ptype in ("timestamp_us", "timestamp_ntz_us"):
        dense = pa.array(values.astype("datetime64[us]"))
    elif ptype == "date32":
        dense = pa.array(values.astype(np.int32, copy=False)).cast(pa.date32())
    elif ptype.startswith("decimal64["):
        p, sc = map(int, ptype[10:-1].split(","))
        v = values.astype(np.int64)
        words = np.zeros((len(v), 2), dtype=np.uint64)
        words[:, 0] = v.view(np.uint64)
        words[:, 1] = np.where(v < 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0))
        dense = pa.Array.from_buffers(
            pa.decimal128(p, sc), len(v), [None, pa.py_buffer(words.tobytes())]
        )
    elif ptype.startswith("decimal_flba["):
        from .kernels import fixedlen as fl

        p, sc = map(int, ptype[13:-1].split(","))
        le = fl.fixed_to_decimal128(values)
        dense = pa.Array.from_buffers(
            pa.decimal128(p, sc), len(values), [None, pa.py_buffer(le.tobytes())]
        )
    elif ptype == "uuid":
        from .kernels import fixedlen as fl

        chars = fl.fixed_to_uuid_strings(values)
        dense = RaggedBytes(
            np.arange(len(values) + 1, dtype=np.int64) * 36, chars.reshape(-1)
        ).to_arrow()
    elif ptype == "float16":
        from .kernels import fixedlen as fl

        dense = pa.array(fl.fixed16_to_float32(values))
    elif ptype == "int96_ts":
        from .kernels import fixedlen as fl

        dense = pa.array(fl.int96_to_us(values).astype("datetime64[us]"))
    elif ptype == "interval":
        from .kernels import fixedlen as fl

        m, d, ms = fl.fixed_to_interval(values)
        dense = pa.StructArray.from_arrays(
            [pa.array(m), pa.array(d), pa.array(ms)],
            names=["months", "days", "millis"],
        )
    elif ptype.startswith("fixed["):
        k = int(ptype[6:-1])
        dense = RaggedBytes(
            np.arange(len(values) + 1, dtype=np.int64) * k, values.reshape(-1)
        ).to_arrow(binary=True)
    else:
        dense = pa.array(values)
    if validity is None:
        return dense
    # re-expand nulls. Fast paths build the nullable array directly from
    # buffers — null slots are empty/zero and the validity bitmap is attached
    # — instead of the old take + if_else pair, which copied the whole column
    # TWICE (for a blob column that was most of the decode wall):
    #   - binary/string: null slots get zero-length offsets; the data buffer
    #     is reused untouched (dense values are already in row order), so
    #     the dense offsets must start at 0
    #   - fixed-width primitives: one scatter of the dense rows into a
    #     zeroed full-length buffer
    n = len(validity)
    if len(dense) == 0:
        return pa.nulls(n, dense.type)
    import pyarrow.types as pt

    t = dense.type
    nnz = len(dense)
    vbuf = pa.py_buffer(np.packbits(validity, bitorder="little"))
    bufs = dense.buffers()
    if (
        (pt.is_binary(t) or pt.is_string(t))
        and dense.offset == 0
        and np.frombuffer(bufs[1], dtype=np.int32, count=1)[0] == 0
    ):
        off32 = np.frombuffer(bufs[1], dtype=np.int32, count=nnz + 1)
        new_lens = np.zeros(n, dtype=np.int32)
        new_lens[validity] = np.diff(off32)
        new_off = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(new_lens, out=new_off[1:])
        return pa.Array.from_buffers(
            t, n, [vbuf, pa.py_buffer(new_off), bufs[2]], null_count=n - nnz
        )
    if (
        pt.is_primitive(t)
        and not pt.is_boolean(t)
        and t.bit_width % 8 == 0
        and dense.offset == 0
    ):
        item = t.bit_width // 8
        src = np.frombuffer(bufs[1], dtype=np.uint8, count=nnz * item)
        out = np.zeros(n * item, dtype=np.uint8)
        out.reshape(n, item)[validity] = src.reshape(nnz, item)
        return pa.Array.from_buffers(
            t, n, [vbuf, pa.py_buffer(out)], null_count=n - nnz
        )
    idx = np.full(n, -1, dtype=np.int64)
    idx[validity] = np.arange(nnz, dtype=np.int64)
    mask = pa.array(validity)
    taken = dense.take(pa.array(np.maximum(idx, 0)))
    return pa.compute.if_else(mask, taken, pa.nulls(n, dense.type))
