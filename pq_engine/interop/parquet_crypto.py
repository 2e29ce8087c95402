"""Parquet modular encryption (encrypted-footer mode) — from scratch.

Implements the public Parquet encryption specification
(parquet-format/Encryption.md; reference implementation
/root/reference/parquet-hadoop/src/main/java/org/apache/parquet/crypto/
AesGcmEncryptor.java, ModuleCipherFactory.java:30-62,
ParquetFileWriter.java PARE/EFMAGIC handling) as a pair of file
transforms over the from-scratch interop writer/reader:

- :func:`encrypt_parquet`: plaintext PAR1 bytes -> PARE encrypted-footer
  file. Every page header and page body becomes its own AES-GCM module
  (4-byte LE length | 12-byte nonce | ciphertext | 16-byte tag), the
  patched FileMetaData is encrypted with the footer key, and the file ends
  with plaintext FileCryptoMetaData + combined length + "PARE".
- :func:`decrypt_parquet`: the inverse for both footer modes — PARE or
  plaintext-footer (PAR1, signed footer) bytes back to a plaintext PAR1
  file the existing :mod:`parquet_reader` consumes unchanged (including
  its filtered row-group/page pruning).

Module AAD (``aad_mode="spec"``): a random 8-byte ``aad_file_unique``
(stored in AesGcmV1) concatenated with the spec suffix — module type byte,
then little-endian u16 row-group / column / page ordinals as applicable.
``aad_mode="empty"`` writes no aad_file_unique and uses an empty AAD for
every module: byte-compatible with DuckDB's parquet encryption, which is
the in-container interop peer (it both reads our PARE files and writes
files this module decrypts).

Column keys: pages of a column listed in ``column_keys`` are encrypted
with that key and the chunk carries ENCRYPTION_WITH_COLUMN_KEY crypto
metadata; a ``column_keys`` path that names no column raises.

Also here (r6):

- :class:`FileDecryptor` — the InternalFileDecryptor analog backing the
  NATIVE encrypted scan in :mod:`parquet_reader`: lazy module-granular
  decryption so pruning runs before decryption.
- :func:`encrypt_parquet_plaintext_footer` — the spec's PLAINTEXT FOOTER
  mode: PAR1 magic kept, footer plaintext but SIGNED (AES-GCM nonce+tag),
  column-key-encrypted columns with their footer ColumnMetaData REDACTED
  (full metadata in ``encrypted_column_metadata`` under the column key);
  legacy readers keep reading the plaintext columns (DuckDB does,
  test-pinned).

Both spec algorithms are implemented: AES_GCM_V1 (every module
authenticated) and AES_GCM_CTR_V1 (page BODIES in unauthenticated
AES-CTR — nonce||be32-counter-from-1 IV, AesCtrEncryptor.java:43-45 —
while all metadata modules stay GCM). Plaintext-footer mode is GCM-only
by declared scope.

All three transforms share one chunk walker (:func:`_relayout`: pages,
bloom filters and page indexes copied verbatim, encrypted, or decrypted
through :class:`FileDecryptor`) and one footer offset patcher
(:func:`_footer_visit`) over the layout the walker returns; every reader
opens the footer through :func:`open_footer`. The offset patch uses a
generic thrift-compact TRANSCODER: it re-emits any struct byte-for-byte
while a visitor patches integer fields addressed by field-id path — no
schema knowledge baked in beyond the patched paths, so unknown fields
written by other writers survive intact.
"""

from __future__ import annotations

import hmac
import os
import struct

from .format import PAGE_DICT
from .thrift_compact import (
    CT_BINARY,
    CT_BOOL_FALSE,
    CT_BOOL_TRUE,
    CT_BYTE,
    CT_DOUBLE,
    CT_I16,
    CT_I32,
    CT_I64,
    CT_LIST,
    CT_STOP,
    CT_STRUCT,
    StructWriter,
    _read_uvar,
    _read_value,
    _unzig,
    _uvarint,
    _zigzag,
    read_struct,
)

MAGIC = b"PAR1"
EMAGIC = b"PARE"

# ModuleCipherFactory.ModuleType ordinals (Encryption.md module types)
MOD_FOOTER = 0
MOD_COLUMN_METADATA = 1
MOD_DATA_PAGE = 2
MOD_DICT_PAGE = 3
MOD_DATA_PAGE_HEADER = 4
MOD_DICT_PAGE_HEADER = 5
MOD_COLUMN_INDEX = 6
MOD_OFFSET_INDEX = 7
MOD_BLOOM_HEADER = 8
MOD_BLOOM_BITSET = 9

NONCE_LEN = 12
TAG_LEN = 16


def available() -> bool:
    try:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # noqa: F401

        return True
    except ImportError:
        return False


def _aesgcm(key: bytes):
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    if len(key) not in (16, 24, 32):
        raise ValueError("AES key must be 16/24/32 bytes")
    return AESGCM(key)


def _module_aad(file_aad: bytes, module: int, rg: int = -1, col: int = -1,
                page: int = -1) -> bytes:
    """Encryption.md AAD suffix: module type byte + LE u16 ordinals (row
    group, column, page) for the module kinds that carry them. Empty
    ``file_aad`` (aad_mode='empty') means empty AAD for every module."""
    if not file_aad:
        return b""
    suffix = bytes([module])
    if rg >= 0:
        suffix += struct.pack("<H", rg)
    if col >= 0:
        suffix += struct.pack("<H", col)
    if page >= 0:
        suffix += struct.pack("<H", page)
    return file_aad + suffix


def _encrypt_module(key: bytes, plaintext: bytes, aad: bytes) -> bytes:
    nonce = os.urandom(NONCE_LEN)
    ct = _aesgcm(key).encrypt(nonce, plaintext, aad or None)
    return struct.pack("<I", NONCE_LEN + len(ct)) + nonce + ct


def _aesctr_xform(key: bytes, nonce: bytes, data: bytes) -> bytes:
    """AES-CTR keystream transform (encrypt == decrypt). IV layout per
    AesCtrEncryptor.java:43-45 — 12-byte nonce then a 4-byte big-endian
    block counter starting at 1."""
    from cryptography.hazmat.primitives.ciphers import (
        Cipher,
        algorithms,
        modes,
    )

    if len(key) not in (16, 24, 32):
        raise ValueError("AES key must be 16/24/32 bytes")
    ctx = Cipher(algorithms.AES(key),
                 modes.CTR(nonce + b"\x00\x00\x00\x01")).encryptor()
    return ctx.update(data) + ctx.finalize()


def _encrypt_module_ctr(key: bytes, plaintext: bytes) -> bytes:
    """AES_GCM_CTR_V1 page-body module: 4-byte LE length | 12-byte nonce
    | ciphertext — NO tag and no AAD (CTR authenticates nothing; the
    mode trades page integrity for cipher throughput, spec §5.2)."""
    nonce = os.urandom(NONCE_LEN)
    ct = _aesctr_xform(key, nonce, plaintext)
    return struct.pack("<I", NONCE_LEN + len(ct)) + nonce + ct


def _decrypt_module_ctr(key: bytes, buf: bytes, pos: int) -> tuple[bytes, int]:
    if pos + 4 > len(buf):
        raise ValueError("encrypted module truncated (length)")
    (blen,) = struct.unpack_from("<I", buf, pos)
    end = pos + 4 + blen
    if blen < NONCE_LEN or end > len(buf):
        raise ValueError("encrypted module truncated (body)")
    nonce = buf[pos + 4 : pos + 4 + NONCE_LEN]
    return _aesctr_xform(key, nonce, buf[pos + 4 + NONCE_LEN : end]), end


def _decrypt_module(key: bytes, buf: bytes, pos: int, aad: bytes) -> tuple[bytes, int]:
    if pos + 4 > len(buf):
        raise ValueError("encrypted module truncated (length)")
    (blen,) = struct.unpack_from("<I", buf, pos)
    end = pos + 4 + blen
    if blen < NONCE_LEN + TAG_LEN or end > len(buf):
        raise ValueError("encrypted module truncated (body)")
    nonce = buf[pos + 4 : pos + 4 + NONCE_LEN]
    ct = buf[pos + 4 + NONCE_LEN : end]
    from cryptography.exceptions import InvalidTag

    try:
        return _aesgcm(key).decrypt(nonce, ct, aad or None), end
    except InvalidTag as e:
        raise ValueError(
            "module decryption failed (wrong key or AAD mismatch)") from e


# --------------------------------------------------- thrift transcoder

def _read_value_span(buf, pos, ctype):
    """Parse-and-discard one compact value; returns (None, new_pos)."""
    _, pos = _read_value(buf, pos, ctype)
    return None, pos


def _transcode(buf, pos, visit, path=(), struct_end=None, drop=None):
    """Re-emit one compact-protocol struct, calling ``visit(path, value)``
    on every integer and binary field; a non-None return replaces the
    value (visitors path-match, so int visitors ignore binary paths and
    vice versa). ``path``
    is the tuple of field ids from the root, with list indices interleaved
    for struct-list elements. ``struct_end(path, last_fid)`` may return
    extra serialized fields to splice in just before a struct's STOP byte
    (the returned bytes' field header must be delta-encoded against
    ``last_fid``). ``drop(path)`` returning True omits the field from the
    output entirely (its value is still parsed to advance ``pos``; the
    NEXT kept field re-encodes its header against the last KEPT id, which
    the short-form delta encoding requires)."""
    out = bytearray()
    last = 0
    last_kept = 0
    while True:
        hb = buf[pos]
        pos += 1
        if hb == CT_STOP:
            if struct_end is not None:
                out += struct_end(path, last_kept)
            out.append(hb)
            return bytes(out), pos
        ctype = hb & 0x0F
        delta = hb >> 4
        if delta:
            fid = last + delta
        else:
            z, p2 = _read_uvar(buf, pos)
            fid = _unzig(z)
            pos = p2
        last = fid
        p = path + (fid,)
        dropping = drop is not None and drop(p)
        if dropping:
            hdr = b""
        else:
            kdelta = fid - last_kept
            if 0 < kdelta <= 15:
                hdr = bytes([(kdelta << 4) | ctype])
            else:
                hdr = bytes([ctype]) + _uvarint(_zigzag(fid, 16))
            last_kept = fid
        out += hdr
        if dropping:
            # parse-and-discard the value, emit nothing
            _, pos = _read_value_span(buf, pos, ctype)
            continue
        if ctype in (CT_I16, CT_I32, CT_I64):
            z, pos = _read_uvar(buf, pos)
            v = _unzig(z)
            nv = visit(p, v)
            out += _uvarint(_zigzag(v if nv is None else nv, 64))
        elif ctype == CT_STRUCT:
            inner, pos = _transcode(buf, pos, visit, p, struct_end, drop)
            out += inner
        elif ctype == CT_LIST:
            lh = buf[pos]
            pos += 1
            out.append(lh)
            size = lh >> 4
            etype = lh & 0x0F
            if size == 15:
                size, pos = _read_uvar(buf, pos)
                out += _uvarint(size)
            for i in range(size):
                if etype == CT_STRUCT:
                    inner, pos = _transcode(buf, pos, visit, p + (i,), struct_end, drop)
                    out += inner
                elif etype == CT_BINARY:
                    ln, p2 = _read_uvar(buf, pos)
                    out += bytes(buf[pos : p2 + ln])
                    pos = p2 + ln
                elif etype in (CT_I16, CT_I32, CT_I64):
                    z, p2 = _read_uvar(buf, pos)
                    out += bytes(buf[pos:p2])
                    pos = p2
                elif etype in (CT_BOOL_TRUE, CT_BOOL_FALSE, CT_BYTE):
                    out.append(buf[pos])
                    pos += 1
                elif etype == CT_DOUBLE:
                    out += bytes(buf[pos : pos + 8])
                    pos += 8
                else:
                    raise ValueError(f"transcoder: unsupported list elem {etype}")
        elif ctype in (CT_BOOL_TRUE, CT_BOOL_FALSE):
            pass
        elif ctype == CT_BYTE:
            out.append(buf[pos])
            pos += 1
        elif ctype == CT_DOUBLE:
            out += bytes(buf[pos : pos + 8])
            pos += 8
        elif ctype == CT_BINARY:
            ln, p2 = _read_uvar(buf, pos)
            nv = visit(p, bytes(buf[p2 : p2 + ln]))
            if nv is None:
                out += bytes(buf[pos : p2 + ln])
            else:
                out += _uvarint(len(nv)) + nv
            pos = p2 + ln
        else:
            raise ValueError(f"transcoder: unsupported compact type {ctype}")


# --------------------------------------------------- chunk page walking

def _walk_pages(buf, start: int, total: int):
    """Yield (offset, header_bytes, body_bytes, is_dict) for each page of
    a plaintext column chunk spanning [start, start+total)."""
    pos, end = start, start + total
    while pos < end:
        header, hend = read_struct(buf, pos)
        comp = header.get(3)
        if comp is None:
            raise ValueError("page header missing compressed_page_size")
        yield (pos, bytes(buf[pos:hend]), bytes(buf[hend : hend + comp]),
               header.get(1) == PAGE_DICT)
        pos = hend + comp
    if pos != end:
        raise ValueError("column chunk page walk overran total_compressed_size")


def _chunk_meta(cc: dict) -> dict:
    meta = cc.get(3)
    if meta is None:
        raise ValueError(
            "ColumnChunk without inline ColumnMetaData is out of scope")
    return meta


def _chunk_span(meta: dict) -> tuple[int, int]:
    data_off = meta[9]
    dict_off = meta.get(11)
    start = data_off if dict_off is None else min(data_off, dict_off)
    return start, meta[7]


def _dotted(path_in_schema: list) -> str:
    return ".".join(p.decode() for p in path_in_schema)


def _field_hdr(fid: int, last_fid: int, ctype: int) -> bytes:
    """Compact-protocol field header for ``fid`` following ``last_fid``."""
    delta = fid - last_fid
    if 0 < delta <= 15:
        return bytes([(delta << 4) | ctype])
    return bytes([ctype]) + _uvarint(_zigzag(fid, 16))


def _patch_offset_index(idx_bytes: bytes, page_map: dict) -> bytes:
    """Rewrite an OffsetIndex's PageLocation offsets/sizes through
    ``page_map`` (old page offset -> (new offset, new size)). The
    OffsetIndex is the one auxiliary structure holding FILE positions, so
    unlike the ColumnIndex it cannot be carried verbatim across the
    module transform — parquet-mr rebuilds it against the encrypted
    layout for the same reason (ParquetFileWriter.serializeOffsetIndexes).
    Relies on PageLocation fields being written in field-id order (offset
    before compressed_page_size), which every compliant writer does."""
    state = {"cur": None}

    def visit(path, v):
        if len(path) == 3 and path[0] == 1:
            if path[2] == 1:
                state["cur"] = v
                return page_map[v][0]
            if path[2] == 2:
                if state["cur"] is None:
                    raise ValueError(
                        "OffsetIndex PageLocation size before offset")
                return page_map[state["cur"]][1]
        return None

    out, _ = _transcode(idx_bytes, 0, visit)
    return out


def _patch_page_size(hdr_bytes: bytes, new_size: int) -> bytes:
    """Rewrite PageHeader.compressed_page_size (field 3). The spec makes
    this field the CIPHERTEXT length for encrypted pages (the reader must
    know how many file bytes the body module occupies — parquet-cpp and
    parquet-mr both write it so); the decrypt direction restores the
    plaintext length."""
    out, _ = _transcode(
        hdr_bytes, 0, lambda p, v: new_size if p == (3,) else None)
    return out


# ------------------------------------------------------ page relayout

class _Sealer:
    """Writes plaintext pieces of one file as encryption modules: the file
    AAD, the page-body cipher of the algorithm, and whether page headers
    carry the body module's length (spec AAD mode)."""

    def __init__(self, file_aad: bytes, ctr: bool, aad_mode: str):
        self.file_aad = file_aad
        self.ctr = ctr
        self.spec = aad_mode == "spec"

    def module(self, key: bytes, data: bytes, module: int, rg: int,
               col: int, page: int = -1) -> bytes:
        return _encrypt_module(
            key, data, _module_aad(self.file_aad, module, rg, col, page))

    def page(self, out: bytearray, key: bytes, rg: int, col: int,
             hdr: bytes, body: bytes, is_dict: bool, ordinal: int) -> None:
        """Append one page to ``out`` as header module + body module."""
        page = -1 if is_dict else ordinal
        if self.ctr:
            body_mod = _encrypt_module_ctr(key, body)
        else:
            body_mod = self.module(
                key, body, MOD_DICT_PAGE if is_dict else MOD_DATA_PAGE,
                rg, col, page)
        # spec (parquet-mr/arrow): compressed_page_size holds the
        # ciphertext module length; DuckDB 1.x (empty-AAD peer) expects
        # the plaintext length and over-reads otherwise
        if self.spec:
            hdr = _patch_page_size(hdr, len(body_mod))
        out += self.module(
            key, hdr, MOD_DICT_PAGE_HEADER if is_dict else MOD_DATA_PAGE_HEADER,
            rg, col, page)
        out += body_mod


class _Layout:
    """Where :func:`_relayout` put each chunk, keyed by (row group,
    column): ``pages`` maps every old page offset to (new offset, new
    size); ``chunk`` and ``meta`` map ColumnChunk / ColumnMetaData field
    ids to their new values (page-index spans 4-7; total_compressed_size
    7 and bloom span 14/15)."""

    def __init__(self):
        self.pages: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        self.chunk: dict[tuple[int, int], dict[int, int]] = {}
        self.meta: dict[tuple[int, int], dict[int, int]] = {}


def _relayout(buf, out: bytearray, chunks: list,
              sealer: _Sealer | None = None) -> _Layout:
    """Copy every chunk's pages then its bloom filter, and after all
    chunks every page index, from ``buf`` to the end of ``out``.

    ``chunks`` lists ``((rg, col), cc, meta, dec, key)`` in file order. A
    chunk is read through ``dec`` (the file's :class:`FileDecryptor`) or,
    with ``dec`` None, as plaintext; it is written encrypted under ``key``
    by ``sealer`` or, with ``key`` None, as plaintext. Bloom modules are
    not part of the new total_compressed_size (mirrors the plaintext
    layout, and the decrypt walk spans exactly the page modules)."""
    lay = _Layout()
    for keyc, cc, meta, dec, key in chunks:
        rg, col = keyc
        start, total = _chunk_span(meta)
        if dec is None:
            pages = _walk_pages(buf, start, total)
        else:
            pages = dec.pages(rg, col, start, total, meta.get(11) is not None)
        pmap = lay.pages[keyc] = {}
        chunk_start = len(out)
        ordinal = 0
        for off, hdr, body, is_dict in pages:
            new = len(out)
            if key is None:
                out += hdr
                out += body
            else:
                sealer.page(out, key, rg, col, hdr, body, is_dict, ordinal)
            pmap[off] = (new, len(out) - new)
            ordinal += not is_dict
        fields = lay.meta[keyc] = {7: len(out) - chunk_start}
        boff = meta.get(14)
        if boff is not None:
            if dec is None:
                bhdr, hend = read_struct(buf, boff)
                bhead, bits = buf[boff:hend], buf[hend : hend + bhdr[1]]
            else:
                bhead, bits = dec.bloom_modules(rg, col, boff)
            fields[14] = len(out)
            if key is None:
                out += bhead
                out += bits
            else:
                out += sealer.module(key, bhead, MOD_BLOOM_HEADER, rg, col)
                out += sealer.module(key, bits, MOD_BLOOM_BITSET, rg, col)
            fields[15] = len(out) - fields[14]

    # page-index region: the ColumnIndex holds no file offsets and is
    # carried as is; the OffsetIndex is rewritten against the new layout
    for keyc, cc, meta, dec, key in chunks:
        rg, col = keyc
        fields = lay.chunk[keyc] = {}
        for name, off_f, len_f, module in (
                ("column_index", 6, 7, MOD_COLUMN_INDEX),
                ("offset_index", 4, 5, MOD_OFFSET_INDEX)):
            off, ln = cc.get(off_f), cc.get(len_f)
            if off is None:
                continue
            if ln is None:
                raise ValueError(
                    f"malformed footer: {name}_offset without {name}_length")
            if dec is None:
                data = bytes(buf[off : off + ln])
            else:
                data, _ = dec._mod(rg, col, off, module)
            if module == MOD_OFFSET_INDEX:
                data = _patch_offset_index(data, lay.pages[keyc])
            if key is not None:
                data = sealer.module(key, data, module, rg, col)
            fields[off_f], fields[len_f] = len(out), len(data)
            out += data
    return lay


def _footer_visit(lay: _Layout):
    """The :func:`_transcode` visitor that points a FileMetaData at the
    layout ``lay``. Field ids: FileMetaData.row_groups = 4; RowGroup.columns
    = 1, total_byte_size = 2; ColumnChunk.file_offset = 2, meta_data = 3,
    page-index spans 4-7; ColumnMetaData.total_compressed_size = 7,
    data_page_offset = 9, dictionary_page_offset = 11, bloom span 14/15."""
    rg_bytes: dict[int, int] = {}
    for (rg_i, _), fields in lay.meta.items():
        rg_bytes[rg_i] = rg_bytes.get(rg_i, 0) + fields[7]

    def visit(path, v):
        if len(path) == 3 and path[0] == 4 and path[2] == 2:
            return rg_bytes.get(path[1], 0)
        if len(path) < 5 or path[0] != 4 or path[2] != 1:
            return None
        keyc, field = (path[1], path[3]), path[4:]
        pages = lay.pages[keyc]
        if field == (2,):
            if v in pages:
                return pages[v][0]
            return min(new for new, _ in pages.values())
        if field in ((3, 9), (3, 11)):
            if v not in pages:
                raise ValueError("page offset not on a module boundary")
            return pages[v][0]
        if len(field) == 1:
            return lay.chunk[keyc].get(field[0])
        if len(field) == 2 and field[0] == 3:
            return lay.meta[keyc].get(field[1])
        return None

    return visit


def _algorithm_union(ctr: bool, aad_file_unique: bytes,
                     aad_prefix: bytes = b"",
                     supply_aad_prefix: bool = False) -> StructWriter:
    """EncryptionAlgorithm union: AES_GCM_V1 (1) or AES_GCM_CTR_V1 (2),
    both carrying (aad_prefix, aad_file_unique, supply_aad_prefix)."""
    algo = StructWriter()
    if aad_prefix and not supply_aad_prefix:
        algo.binary(1, aad_prefix)
    if aad_file_unique:
        algo.binary(2, aad_file_unique)
    if supply_aad_prefix:
        algo.boolean(3, True)
    return StructWriter().struct(2 if ctr else 1, algo)


def _aes_params(union: dict, missing: str) -> dict:
    """Parse an EncryptionAlgorithm union (see :func:`_algorithm_union`)."""
    for fid, name in ((1, "AES_GCM_V1"), (2, "AES_GCM_CTR_V1")):
        if fid in union:
            gcm = union[fid] if isinstance(union[fid], dict) else {}
            return {
                "algorithm": name,
                "aad_prefix": gcm.get(1, b""),
                "aad_file_unique": gcm.get(2, b""),
                "supply_aad_prefix": bool(gcm.get(3)),
            }
    raise ValueError(missing)


# --------------------------------------------------------- encrypt side

def _encrypt_file(plain: bytes, footer_key: bytes,
                  column_keys: dict[str, bytes],
                  column_key_metadata: dict[str, bytes] | None,
                  aad_mode: str, ctr: bool, file_aad: bytes,
                  plaintext_footer: bool,
                  footer_key_metadata: bytes | None = None
                  ) -> tuple[bytearray, bytes]:
    """The part both encryption modes share -> (magic + relaid chunks +
    page indexes, patched FileMetaData bytes). Chunks of ``column_keys``
    columns are encrypted under their column key; the others under
    ``footer_key``, or copied verbatim when ``plaintext_footer``."""
    flen = int.from_bytes(plain[-8:-4], "little")
    fbytes = plain[len(plain) - 8 - flen : len(plain) - 8]
    fmeta, _ = read_struct(fbytes)
    if fmeta.get(8) is not None:
        raise ValueError("file already carries an encryption_algorithm")
    default_key = None if plaintext_footer else footer_key
    chunks = []
    paths: dict[tuple[int, int], str] = {}
    for rg_i, rg in enumerate(fmeta.get(4, [])):
        for col_i, cc in enumerate(rg.get(1, [])):
            meta = _chunk_meta(cc)
            path = paths[(rg_i, col_i)] = _dotted(meta[3])
            chunks.append(((rg_i, col_i), cc, meta, None,
                           column_keys.get(path, default_key)))
    missing = set(column_keys) - set(paths.values())
    if missing:
        raise ValueError(f"column_keys name absent columns: {sorted(missing)}")

    sealer = _Sealer(file_aad, ctr, aad_mode)
    out = bytearray(MAGIC if plaintext_footer else EMAGIC)
    visit = _footer_visit(_relayout(plain, out, chunks, sealer))

    # encrypted_column_metadata: each column-key chunk's full
    # ColumnMetaData (offsets patched to the encrypted layout) as its own
    # module under the COLUMN key — parquet-cpp/mr readers require it for
    # column-key chunks, and it makes the column's stats readable only to
    # column-key holders
    md_spans = _md_spans(fbytes) if column_keys else {}
    emd: dict[tuple[int, int], bytes] = {}
    for keyc, path in paths.items():
        if path in column_keys:
            md, _ = _transcode(
                fbytes, md_spans[keyc][0],
                lambda p, v, kc=keyc: visit((4, kc[0], 1, kc[1], 3) + p, v))
            emd[keyc] = sealer.module(
                column_keys[path], md, MOD_COLUMN_METADATA, *keyc)
    # a footer-key chunk is tagged ENCRYPTION_WITH_FOOTER_KEY in spec mode
    # AND whenever column keys exist — in a file with any tagged chunk,
    # untagged means PLAINTEXT (the arrow/parquet-mr subset-encryption
    # contract); empty mode matches DuckDB, which tags nothing
    tag_footer_key = not plaintext_footer and (
        aad_mode == "spec" or bool(column_keys))

    def struct_end(path, last_fid):
        if path == () and plaintext_footer:
            # FileMetaData.encryption_algorithm(8) marks the file as
            # plaintext-footer encrypted; footer_signing_key_metadata(9)
            extra = (_field_hdr(8, last_fid, CT_STRUCT)
                     + _algorithm_union(ctr, file_aad).finish())
            if footer_key_metadata:
                extra += (_field_hdr(9, 8, CT_BINARY)
                          + _uvarint(len(footer_key_metadata))
                          + footer_key_metadata)
            return extra
        # RowGroup.ordinal (field 7, i16): parquet-mr/arrow readers take
        # the AAD row-group component for COLUMN-KEY modules from this
        # field (not from the positional index), so multi-row-group
        # column-key files are unreadable to them without it
        if (len(path) == 2 and path[0] == 4 and aad_mode == "spec"
                and last_fid < 7):
            return (_field_hdr(7, last_fid, CT_I16)
                    + _uvarint(_zigzag(path[1], 16)))
        if not (len(path) == 4 and path[0] == 4 and path[2] == 1) \
                or last_fid >= 8:
            return b""
        keyc = (path[1], path[3])
        if keyc in emd:
            # ColumnChunk.crypto_metadata(8) = ENCRYPTION_WITH_COLUMN_KEY
            # {path_in_schema, key_metadata}, then field 9
            inner = StructWriter().list_string(1, paths[keyc].split("."))
            ckm = (column_key_metadata or {}).get(paths[keyc])
            if ckm:
                inner.binary(2, ckm)
            return (_field_hdr(8, last_fid, CT_STRUCT)
                    + StructWriter().struct(2, inner).finish()
                    + _field_hdr(9, 8, CT_BINARY)
                    + _uvarint(len(emd[keyc])) + emd[keyc])
        if tag_footer_key:
            return (_field_hdr(8, last_fid, CT_STRUCT)
                    + StructWriter().struct(1, StructWriter()).finish())
        return b""

    def drop(p):
        # plaintext-footer redaction: Statistics (12) / SizeStatistics
        # (16) of ENCRYPTED columns leave the plaintext footer — the full
        # ColumnMetaData travels only inside encrypted_column_metadata
        return (plaintext_footer and len(p) == 6 and p[0] == 4
                and p[2] == 1 and p[4] == 3 and p[5] in (12, 16)
                and (p[1], p[3]) in emd)

    patched, _ = _transcode(fbytes, 0, visit, struct_end=struct_end,
                            drop=drop)
    return out, patched


def encrypt_parquet(plain: bytes, footer_key: bytes,
                    column_keys: dict[str, bytes] | None = None,
                    aad_mode: str = "spec",
                    key_metadata: bytes | None = None,
                    column_key_metadata: dict[str, bytes] | None = None,
                    algorithm: str = "AES_GCM_V1",
                    aad_prefix: bytes = b"",
                    supply_aad_prefix: bool = False) -> bytes:
    """Plaintext parquet bytes -> encrypted-footer (PARE) file bytes.

    ``column_keys`` maps dotted column paths to per-column AES keys; other
    columns use ``footer_key``. ``aad_mode='spec'`` stores a random
    aad_file_unique and applies the per-module AAD suffixes;
    ``'empty'`` uses empty AAD (DuckDB-compatible). ``key_metadata`` /
    ``column_key_metadata`` attach opaque key identifiers (e.g. the
    keytools PKMT1 envelopes) to the footer and to each column-key
    chunk's crypto metadata. ``algorithm='AES_GCM_CTR_V1'`` encrypts PAGE
    BODIES with unauthenticated AES-CTR (faster on stacks without AES-GCM
    hardware; InternalColumnEncryptionSetup.getDataEncryptor) while every
    metadata module — headers, footer, indexes, blooms,
    encrypted_column_metadata — stays AES-GCM.

    ``aad_prefix`` (spec mode only) prepends a caller identity — e.g. the
    canonical file name — to every module AAD, binding the ciphertext to
    THAT file so a whole-file swap-and-rename is detected
    (FileEncryptionProperties.withAADPrefix). It is stored in the footer
    unless ``supply_aad_prefix`` — then only a flag is stored and every
    reader must supply the prefix out-of-band."""
    if plain[:4] != MAGIC or plain[-4:] != MAGIC:
        raise ValueError("encrypt_parquet input is not a plaintext parquet file")
    if aad_mode not in ("spec", "empty"):
        raise ValueError("aad_mode must be 'spec' or 'empty'")
    if algorithm not in ("AES_GCM_V1", "AES_GCM_CTR_V1"):
        raise ValueError(f"unsupported encryption algorithm {algorithm!r}")
    if aad_prefix and aad_mode != "spec":
        raise ValueError("aad_prefix requires aad_mode='spec'")
    if supply_aad_prefix and not aad_prefix:
        raise ValueError("supply_aad_prefix without an aad_prefix")
    ctr = algorithm == "AES_GCM_CTR_V1"
    aad_file_unique = os.urandom(8) if aad_mode == "spec" else b""
    file_aad = aad_prefix + aad_file_unique
    out, footer = _encrypt_file(
        plain, footer_key, column_keys or {}, column_key_metadata, aad_mode,
        ctr, file_aad, plaintext_footer=False)
    footer_mod = _encrypt_module(
        footer_key, footer, _module_aad(file_aad, MOD_FOOTER))
    fcmd = StructWriter().struct(1, _algorithm_union(
        ctr, aad_file_unique, aad_prefix, supply_aad_prefix))
    if key_metadata:
        fcmd.binary(2, key_metadata)
    fcmd_bytes = fcmd.finish()
    out += fcmd_bytes
    out += footer_mod
    out += struct.pack("<I", len(fcmd_bytes) + len(footer_mod))
    out += EMAGIC
    return bytes(out)


def _md_spans(fbytes: bytes) -> dict[tuple[int, int], tuple[int, int]]:
    """Byte spans of every ColumnChunk.meta_data struct inside raw
    FileMetaData bytes: {(rg_i, col_i): (start, end)}. Walks only the
    row_groups(4) -> columns(1) -> meta_data(3) spine; everything else is
    skipped with the generic value parser."""
    spans: dict[tuple[int, int], tuple[int, int]] = {}

    def walk(pos, depth, rg_i=-1, col_i=-1):
        # depth 0 = FileMetaData, 1 = RowGroup, 2 = ColumnChunk
        last = 0
        while True:
            hb = fbytes[pos]
            pos += 1
            if hb == CT_STOP:
                return pos
            ctype = hb & 0x0F
            delta = hb >> 4
            if delta:
                fid = last + delta
            else:
                z, pos = _read_uvar(fbytes, pos)
                fid = _unzig(z)
            last = fid
            spine = (
                (depth == 0 and fid == 4 and ctype == CT_LIST)
                or (depth == 1 and fid == 1 and ctype == CT_LIST)
            )
            if spine:
                lh = fbytes[pos]
                pos += 1
                size = lh >> 4
                if size == 15:
                    size, pos = _read_uvar(fbytes, pos)
                for i in range(size):
                    pos = walk(pos, depth + 1,
                               i if depth == 0 else rg_i,
                               i if depth == 1 else col_i)
                continue
            if depth == 2 and fid == 3 and ctype == CT_STRUCT:
                start = pos
                _, pos = _read_value(fbytes, pos, ctype)
                spans[(rg_i, col_i)] = (start, pos)
                continue
            _, pos = _read_value(fbytes, pos, ctype)

    walk(0, 0)
    return spans


def encrypt_parquet_plaintext_footer(
        plain: bytes, footer_key: bytes, column_keys: dict[str, bytes],
        aad_mode: str = "spec",
        footer_key_metadata: bytes | None = None,
        column_key_metadata: dict[str, bytes] | None = None,
        algorithm: str = "AES_GCM_V1") -> bytes:
    """Plaintext parquet bytes -> PLAINTEXT-FOOTER encrypted file
    (Encryption.md 'plaintext footer mode'; parquet-hadoop
    ParquetFileWriter.serializeFooter signing path + FileEncryptionProperties
    plaintext-footer branch). The file keeps the PAR1 magic and a plaintext
    FileMetaData, so legacy readers can still read the UNENCRYPTED columns;
    columns listed in ``column_keys`` are encrypted page-by-page exactly as
    in encrypted-footer mode (same module AAD scheme), and for those
    columns the footer's plaintext ColumnMetaData is REDACTED (Statistics
    and SizeStatistics stripped) with the full metadata carried in
    ``encrypted_column_metadata`` under the column key — a footer reader
    without the key learns structure, not values. The footer itself is
    SIGNED with the footer key: AES-GCM over the footer bytes with the
    footer-module AAD, nonce + tag (28 bytes) stored between the footer
    and its length, which covers both."""
    if plain[:4] != MAGIC or plain[-4:] != MAGIC:
        raise ValueError(
            "encrypt_parquet_plaintext_footer input is not a plaintext "
            "parquet file")
    if aad_mode not in ("spec", "empty"):
        raise ValueError("aad_mode must be 'spec' or 'empty'")
    if not column_keys:
        raise ValueError(
            "plaintext footer mode encrypts columns under column keys; "
            "pass a non-empty column_keys")
    if algorithm not in ("AES_GCM_V1", "AES_GCM_CTR_V1"):
        raise ValueError(f"unsupported encryption algorithm {algorithm!r}")
    _aesgcm(footer_key)  # validate key length up front
    file_aad = os.urandom(8) if aad_mode == "spec" else b""
    out, footer = _encrypt_file(
        plain, footer_key, column_keys, column_key_metadata, aad_mode,
        algorithm == "AES_GCM_CTR_V1", file_aad, plaintext_footer=True,
        footer_key_metadata=footer_key_metadata)
    sig = _encrypt_module(
        footer_key, footer, _module_aad(file_aad, MOD_FOOTER))
    out += footer
    out += sig[4 : 4 + NONCE_LEN] + sig[-TAG_LEN:]
    out += struct.pack("<I", len(footer) + NONCE_LEN + TAG_LEN)
    out += MAGIC
    return bytes(out)


# --------------------------------------------------------- decrypt side

def read_crypto_footer(buf: bytes) -> dict:
    """Parse the tail of a PARE file -> {aad_file_unique, aad_prefix,
    supply_aad_prefix, key_metadata, footer_module_start, algorithm,
    plaintext_footer=False}. Raises ValueError for non-encrypted files.
    ``algorithm`` is 'AES_GCM_V1' or 'AES_GCM_CTR_V1' (union fields 1/2
    of EncryptionAlgorithm; both carry the same AAD trio)."""
    if buf[:4] != EMAGIC or buf[-4:] != EMAGIC:
        raise ValueError("not an encrypted-footer parquet file (PARE magic)")
    (clen,) = struct.unpack_from("<I", buf, len(buf) - 8)
    area_start = len(buf) - 8 - clen
    fcmd, pos = read_struct(buf[area_start : len(buf) - 8])
    return {
        **_aes_params(fcmd.get(1, {}),
                      "FileCryptoMetaData missing encryption_algorithm"),
        "key_metadata": fcmd.get(2),
        "footer_module_start": area_start + pos,
        "plaintext_footer": False,
    }


def footer_crypto(buf: bytes) -> dict:
    """The key-free half of opening an encrypted file's footer: the
    :func:`read_crypto_footer` fields of a PARE file, or for a
    plaintext-footer file (PAR1 magic, signed footer) the same AAD and
    algorithm fields from FileMetaData.encryption_algorithm(8), its
    footer_signing_key_metadata(9) as ``key_metadata``, the footer bytes
    and the 28-byte signature (nonce + GCM tag)."""
    if buf[-4:] == EMAGIC:
        return read_crypto_footer(buf)
    if buf[-4:] != MAGIC:
        raise ValueError("not a parquet file (magic)")
    flen = int.from_bytes(buf[-8:-4], "little")
    combined = buf[len(buf) - 8 - flen : len(buf) - 8]
    if len(combined) <= NONCE_LEN + TAG_LEN:
        raise ValueError("footer too short for a signature")
    fbytes = combined[: -(NONCE_LEN + TAG_LEN)]
    fmeta, _ = read_struct(fbytes)
    if fmeta.get(8) is None:
        raise ValueError(
            "plaintext parquet file carries no encryption_algorithm")
    return {
        **_aes_params(fmeta[8], "unknown encryption_algorithm union field"),
        "key_metadata": fmeta.get(9),
        "plaintext_footer": True,
        "footer_bytes": fbytes,
        "signature": combined[-(NONCE_LEN + TAG_LEN):],
    }


def open_footer(buf: bytes, footer_key: bytes, aad_prefix: bytes = b"",
                info: dict | None = None) -> tuple[bytes, bytes, dict]:
    """Open an encrypted file's footer -> (FileMetaData bytes, file AAD,
    :func:`footer_crypto` info). A PARE footer module is decrypted; a
    plaintext footer's signature is verified by re-encrypting the footer
    bytes with the stored nonce and comparing tags (the
    InternalFileDecryptor footer-signature contract). Pass ``info`` when
    the caller already read it (e.g. to find the footer key)."""
    if info is None:
        info = footer_crypto(buf)
    if info["supply_aad_prefix"] and not aad_prefix:
        raise ValueError("file requires caller-supplied aad_prefix")
    file_aad = (aad_prefix or info["aad_prefix"]) + info["aad_file_unique"]
    aad = _module_aad(file_aad, MOD_FOOTER)
    if not info["plaintext_footer"]:
        fbytes, _ = _decrypt_module(
            footer_key, buf, info["footer_module_start"], aad)
        return fbytes, file_aad, info
    fbytes, sig = info["footer_bytes"], info["signature"]
    ct = _aesgcm(footer_key).encrypt(sig[:NONCE_LEN], fbytes, aad or None)
    if not hmac.compare_digest(ct[-TAG_LEN:], sig[NONCE_LEN:]):
        raise ValueError(
            "footer signature verification failed (wrong footer key or "
            "tampered footer)")
    return fbytes, file_aad, info


def decrypt_parquet(buf: bytes, footer_key: bytes,
                    column_keys: dict[str, bytes] | None = None,
                    aad_prefix: bytes = b"") -> bytes:
    """Encrypted parquet bytes -> fully plaintext PAR1 bytes that the
    existing parquet_reader decodes unchanged. Handles encrypted-footer
    (PARE) files — both spec AAD (aad_file_unique + module suffixes) and
    empty-AAD (DuckDB) — AND plaintext-footer (PAR1, signed footer)
    files, whose signature is verified with the footer key before the
    encrypted columns are decrypted and their redacted ColumnMetaData
    restored. Keys and pages come from :class:`FileDecryptor`."""
    dec = FileDecryptor(buf, footer_key, column_keys, aad_prefix)
    chunks = []
    for rg_i, rg in enumerate(dec._fmeta.get(4, [])):
        for col_i, cc in enumerate(rg.get(1, [])):
            keyc = (rg_i, col_i)
            meta = dec._md_override.get(keyc) or _chunk_meta(cc)
            chunks.append((keyc, cc, meta,
                           None if dec.is_plain(rg_i, col_i) else dec, None))
    out = bytearray(MAGIC)
    visit = _footer_visit(_relayout(buf, out, chunks))

    def drop(p):
        # the plaintext output must not advertise encryption:
        # ColumnChunk.crypto_metadata(8) and encrypted_column_metadata(9);
        # inline meta_data (3) of chunks whose authoritative copy came
        # from encrypted_column_metadata (re-spliced by struct_end); and
        # FileMetaData.encryption_algorithm(8) +
        # footer_signing_key_metadata(9) of plaintext-footer inputs
        if len(p) == 5 and p[0] == 4 and p[2] == 1:
            return p[4] in (8, 9) or (
                p[4] == 3 and (p[1], p[3]) in dec._md_bytes)
        return dec.plaintext_footer and p in ((8,), (9,))

    def struct_end(path, last_fid):
        # re-emit the decrypted ColumnMetaData (offsets patched to the
        # plaintext layout) as field 3 for chunks the writer redacted;
        # long-form header since field 3 lands after fields 4-7
        if not (len(path) == 4 and path[0] == 4 and path[2] == 1):
            return b""
        md = dec._md_bytes.get((path[1], path[3]))
        if md is None:
            return b""
        patched_md, _ = _transcode(
            md, 0, lambda p, v: visit((4, path[1], 1, path[3], 3) + p, v))
        return bytes([CT_STRUCT]) + _uvarint(_zigzag(3, 16)) + patched_md

    patched, _ = _transcode(dec.footer_bytes, 0, visit,
                            struct_end=struct_end, drop=drop)
    out += patched
    out += struct.pack("<I", len(patched))
    out += MAGIC
    return bytes(out)


class FileDecryptor:
    """Lazy module-granular decryption for the NATIVE encrypted scan — the
    InternalFileDecryptor analog (parquet-hadoop .../crypto/
    InternalFileDecryptor.java:36, ParquetFileReader's encrypted read
    path). Unlike :func:`decrypt_parquet` (a whole-file transform over
    this class), only the modules the filtered reader actually touches
    are decrypted: the footer, then — for row groups that survive stats
    pruning — the probed dictionary/bloom/page-index modules and the page
    modules inside the surviving row ranges. At scale a selective
    predicate therefore decrypts a small fraction of the ciphertext;
    ``modules_decrypted`` vs :meth:`count_modules` quantifies exactly how
    much was skipped."""

    def __init__(self, buf: bytes, footer_key: bytes,
                 column_keys: dict[str, bytes] | None = None,
                 aad_prefix: bytes = b""):
        self.buf = buf
        self.column_keys = column_keys or {}
        self._idx_cache: dict[int, bytes] = {}
        self._md_override: dict[tuple[int, int], dict] = {}
        self._md_bytes: dict[tuple[int, int], bytes] = {}
        self.footer_bytes, self.file_aad, info = open_footer(
            buf, footer_key, aad_prefix)
        self.plaintext_footer = info["plaintext_footer"]
        self.algorithm = info["algorithm"]
        self.modules_decrypted = 0 if self.plaintext_footer else 1
        fmeta, _ = read_struct(self.footer_bytes)
        # per-chunk key resolution is a footer-only walk (no data decrypt);
        # key None = plaintext chunk. For a column-key chunk the dotted
        # path comes from the crypto-metadata union — parquet-mr/arrow
        # REMOVE the inline meta_data entirely for those chunks (full
        # redaction) and only encrypted_column_metadata carries it, so
        # meta_data may legitimately be absent here.
        self._keys: dict[tuple[int, int], bytes | None] = {}
        # a spec-compliant writer (parquet-mr/arrow/ours in spec mode)
        # tags every ENCRYPTED chunk with crypto_metadata, so an untagged
        # chunk in such a file is PLAINTEXT (arrow encrypts only the
        # column_keys subset); DuckDB tags nothing and encrypts everything
        any_tagged = any(
            cc.get(8) is not None
            for rg in fmeta.get(4, []) for cc in rg.get(1, []))
        # AAD row-group component: RowGroup.ordinal when present (the
        # spec's authoritative value — differs from position in merged
        # files), else the position
        self._rg_ord = {
            rg_i: rg.get(7, rg_i)
            for rg_i, rg in enumerate(fmeta.get(4, []))}
        for rg_i, rg in enumerate(fmeta.get(4, [])):
            for col_i, cc in enumerate(rg.get(1, [])):
                crypto = cc.get(8)
                if crypto is not None and 2 in crypto:
                    path = _dotted(crypto[2].get(1, []))
                    if path not in self.column_keys:
                        raise ValueError(
                            f"column {path!r} is encrypted with a column "
                            "key; pass it in column_keys")
                    key = self.column_keys[path]
                elif self.plaintext_footer:
                    if crypto is not None:
                        raise ValueError(
                            "plaintext-footer mode: footer-key-encrypted "
                            "columns are not allowed by the spec")
                    key = None
                elif crypto is None and any_tagged:
                    key = None  # plaintext chunk
                else:
                    key = self.column_keys.get(
                        _dotted(_chunk_meta(cc)[3]), footer_key)
                self._keys[(rg_i, col_i)] = key
                emd = cc.get(9)
                if emd is not None and key is not None:
                    # encrypted_column_metadata: the unredacted
                    # ColumnMetaData under the column key
                    md_plain, _ = _decrypt_module(
                        key, emd, 0,
                        _module_aad(self.file_aad, MOD_COLUMN_METADATA,
                                    self._rg_ord[rg_i], col_i))
                    self.modules_decrypted += 1
                    self._md_bytes[(rg_i, col_i)] = md_plain
                    self._md_override[(rg_i, col_i)], _ = read_struct(
                        md_plain)
                elif cc.get(3) is None:
                    raise ValueError(
                        "ColumnChunk carries neither meta_data nor "
                        "encrypted_column_metadata")
        self._fmeta = fmeta

    @property
    def md_overrides(self) -> dict[tuple[int, int], dict]:
        """All decrypted ColumnMetaData structs keyed by (rg, col) — fed to
        parse_footer_bytes so redacted chunks get their true metadata."""
        return self._md_override

    def is_plain(self, rg_i: int, col_i: int) -> bool:
        """True for an unencrypted chunk of a plaintext-footer file — the
        reader bypasses decryption for these (the legacy-readable part)."""
        return self._keys[(rg_i, col_i)] is None

    def md_override(self, rg_i: int, col_i: int) -> dict | None:
        """The decrypted (unredacted) ColumnMetaData thrift dict for a
        column-key chunk, or None when the footer copy is authoritative."""
        return self._md_override.get((rg_i, col_i))

    def _mod(self, rg_i: int, col_i: int, pos: int, module: int,
             page: int = -1) -> tuple[bytes, int]:
        b, end = _decrypt_module(
            self._keys[(rg_i, col_i)], self.buf, pos,
            _module_aad(self.file_aad, module, self._rg_ord[rg_i], col_i,
                        page))
        self.modules_decrypted += 1
        return b, end

    def page(self, rg_i: int, col_i: int, off: int, is_dict: bool,
             ordinal: int = -1) -> tuple[bytes, bytes, int]:
        """Decrypt ONE page (header module + body module) at ``off`` ->
        (header thrift bytes, plaintext body, end position). The header's
        compressed_page_size is rewritten back to the plaintext length
        (encrypted files store the ciphertext module length there)."""
        if is_dict:
            hdr, pos = self._mod(rg_i, col_i, off, MOD_DICT_PAGE_HEADER)
            body, pos = self._body_mod(rg_i, col_i, pos, MOD_DICT_PAGE)
        else:
            hdr, pos = self._mod(
                rg_i, col_i, off, MOD_DATA_PAGE_HEADER, ordinal)
            body, pos = self._body_mod(
                rg_i, col_i, pos, MOD_DATA_PAGE, ordinal)
        return _patch_page_size(hdr, len(body)), body, pos

    def _body_mod(self, rg_i: int, col_i: int, pos: int, module: int,
                  page: int = -1) -> tuple[bytes, int]:
        """Page BODY module: AES-CTR (no tag) in GCM_CTR files, GCM
        otherwise."""
        if self.algorithm == "AES_GCM_CTR_V1":
            b, end = _decrypt_module_ctr(
                self._keys[(rg_i, col_i)], self.buf, pos)
            self.modules_decrypted += 1
            return b, end
        return self._mod(rg_i, col_i, pos, module, page)

    def pages(self, rg_i: int, col_i: int, start: int, total: int,
              has_dict: bool):
        """Decrypt every page module of one chunk in file order -> yield
        (encrypted page offset, plaintext header, body, is_dict)."""
        pos, end = start, start + total
        ordinal = 0
        while pos < end:
            is_dict = has_dict and pos == start
            hdr, body, nxt = self.page(
                rg_i, col_i, pos, is_dict, -1 if is_dict else ordinal)
            yield pos, hdr, body, is_dict
            ordinal += not is_dict
            pos = nxt
        if pos != end:
            raise ValueError("encrypted chunk module walk overran span")

    def bloom_modules(self, rg_i: int, col_i: int, off: int
                      ) -> tuple[bytes, bytes]:
        """Decrypt a chunk's BloomFilterHeader + bitset modules -> (header
        thrift bytes, bitset)."""
        hb, pos = self._mod(rg_i, col_i, off, MOD_BLOOM_HEADER)
        bits, _ = self._mod(rg_i, col_i, pos, MOD_BLOOM_BITSET)
        return hb, bits

    def bloom(self, rg_i: int, col_i: int, off: int) -> tuple[dict, bytes]:
        """Decrypt a chunk's BloomFilterHeader + bitset modules."""
        hb, bits = self.bloom_modules(rg_i, col_i, off)
        hdr, _ = read_struct(hb)
        return hdr, bits

    def column_index(self, rg_i: int, col_i: int, off: int) -> bytes:
        if off not in self._idx_cache:
            self._idx_cache[off], _ = self._mod(
                rg_i, col_i, off, MOD_COLUMN_INDEX)
        return self._idx_cache[off]

    def offset_index(self, rg_i: int, col_i: int, off: int) -> bytes:
        # memoized: row-range math and page decode both read the same
        # OffsetIndex — one module decrypt, not two
        if off not in self._idx_cache:
            self._idx_cache[off], _ = self._mod(
                rg_i, col_i, off, MOD_OFFSET_INDEX)
        return self._idx_cache[off]

    def chunk_plain(self, rg_i: int, col_i: int, start: int, total: int,
                    has_dict: bool) -> tuple[bytes, dict[int, int]]:
        """Decrypt every page module of one chunk -> (contiguous plaintext,
        {encrypted page offset -> plaintext offset}) — the no-page-index
        fallback, still lazy at chunk granularity."""
        out = bytearray()
        omap: dict[int, int] = {}
        for off, hdr, body, _ in self.pages(rg_i, col_i, start, total,
                                            has_dict):
            omap[off] = len(out)
            out += hdr
            out += body
        return bytes(out), omap

    def pages_plain(self, rg_i: int, col_i: int, dict_off: int | None,
                    locs: list, keep_idx: list[int]
                    ) -> tuple[bytes, int | None, dict[int, int]]:
        """Decrypt ONLY the dictionary page (if any) plus the data pages at
        OffsetIndex positions ``keep_idx`` -> (plaintext buffer, new dict
        offset, {encrypted page offset -> plaintext offset}). Data-page AAD
        ordinals are the OffsetIndex positions — the index lists every data
        page in write order."""
        out = bytearray()
        new_dict = None
        if dict_off is not None:
            hdr, body, _ = self.page(rg_i, col_i, dict_off, is_dict=True)
            new_dict = 0
            out += hdr
            out += body
        omap: dict[int, int] = {}
        for i in keep_idx:
            off = locs[i][0]
            omap[off] = len(out)
            hdr, body, _ = self.page(rg_i, col_i, off, False, ordinal=i)
            out += hdr
            out += body
        return bytes(out), new_dict, omap

    def count_modules(self) -> int:
        """Total modules in the file WITHOUT decrypting anything: walk the
        4-byte length framing across every ENCRYPTED chunk span, bloom and
        page-index pointer, plus the footer module (encrypted-footer mode)
        and each encrypted_column_metadata."""
        total = 0 if self.plaintext_footer else 1  # footer
        for rg_i, rg in enumerate(self._fmeta.get(4, [])):
            for col_i, cc in enumerate(rg.get(1, [])):
                if self.is_plain(rg_i, col_i):
                    continue
                meta = self._md_override.get((rg_i, col_i)) or _chunk_meta(cc)
                start, span = _chunk_span(meta)
                pos, end = start, start + span
                while pos < end:
                    (blen,) = struct.unpack_from("<I", self.buf, pos)
                    pos += 4 + blen
                    total += 1
                if meta.get(14) is not None:
                    total += 2  # bloom header + bitset
                total += sum(1 for f in (4, 6) if cc.get(f) is not None)
                if cc.get(9) is not None:
                    total += 1  # encrypted_column_metadata
        return total


def is_encrypted(buf: bytes) -> bool:
    return buf[:4] == EMAGIC
