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
- :func:`decrypt_parquet`: the inverse — PARE bytes back to a plaintext
  PAR1 file the existing :mod:`parquet_reader` consumes unchanged
  (including its filtered row-group/page pruning).

Module AAD (``aad_mode="spec"``): a random 8-byte ``aad_file_unique``
(stored in AesGcmV1) concatenated with the spec suffix — module type byte,
then little-endian u16 row-group / column / page ordinals as applicable.
``aad_mode="empty"`` writes no aad_file_unique and uses an empty AAD for
every module: byte-compatible with DuckDB's parquet encryption, which is
the in-container interop peer (it both reads our PARE files and writes
files this module decrypts).

Column keys: pages of a column listed in ``column_keys`` are encrypted
with that key and the chunk carries ENCRYPTION_WITH_COLUMN_KEY crypto
metadata.

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

The footer offset rewrite uses a generic thrift-compact TRANSCODER: it
re-emits any struct byte-for-byte while a visitor patches integer fields
addressed by field-id path — no schema knowledge baked in beyond the
patched paths, so unknown fields written by other writers survive intact.
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
    """Yield (header_bytes, header_dict, body_bytes) for each page of a
    plaintext column chunk spanning [start, start+total)."""
    pos, end = start, start + total
    while pos < end:
        header, hend = read_struct(buf, pos)
        comp = header.get(3)
        if comp is None:
            raise ValueError("page header missing compressed_page_size")
        yield bytes(buf[pos:hend]), header, bytes(buf[hend : hend + comp])
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



def _patch_offset_index(idx_bytes: bytes, page_map: dict) -> bytes:
    """Rewrite an OffsetIndex's PageLocation offsets/sizes through
    ``page_map`` (old data-page offset -> (new offset, new size)). The
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


# --------------------------------------------------------- encrypt side

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
    column_keys = column_keys or {}
    aad_file_unique = os.urandom(8) if aad_mode == "spec" else b""
    file_aad = (aad_prefix + aad_file_unique) if aad_mode == "spec" else b""

    flen = int.from_bytes(plain[-8:-4], "little")
    fstart = len(plain) - 8 - flen
    fmeta, _ = read_struct(plain[fstart : fstart + flen])
    row_groups = fmeta.get(4, [])

    out = bytearray(EMAGIC)
    # (rg, col) -> {old offset -> new offset}; chunk order preserved
    new_offsets: dict[tuple[int, int], dict[int, int]] = {}
    sizes: dict[tuple[int, int], int] = {}
    # auxiliary structures carried as their own modules (r6):
    # blooms -> types 8/9, page index -> types 6/7
    page_maps: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    chunk_keys: dict[tuple[int, int], bytes] = {}
    bloom_new: dict[tuple[int, int], tuple[int, int]] = {}
    for rg_i, rg in enumerate(row_groups):
        for col_i, cc in enumerate(rg.get(1, [])):
            meta = _chunk_meta(cc)
            path = ".".join(p.decode() for p in meta[3])
            key = column_keys.get(path, footer_key)
            chunk_keys[(rg_i, col_i)] = key
            start, total = _chunk_span(meta)
            dict_off = meta.get(11)
            omap: dict[int, int] = {}
            pmap: dict[int, tuple[int, int]] = {}
            chunk_start = len(out)
            page_ord = 0
            pos = start
            for hdr_bytes, header, body in _walk_pages(plain, start, total):
                is_dict = header.get(1) == PAGE_DICT
                if is_dict:
                    hmod = _module_aad(file_aad, MOD_DICT_PAGE_HEADER, rg_i, col_i)
                    bmod = _module_aad(file_aad, MOD_DICT_PAGE, rg_i, col_i)
                else:
                    hmod = _module_aad(
                        file_aad, MOD_DATA_PAGE_HEADER, rg_i, col_i, page_ord)
                    bmod = _module_aad(
                        file_aad, MOD_DATA_PAGE, rg_i, col_i, page_ord)
                    page_ord += 1
                omap[pos] = len(out)
                body_mod = (_encrypt_module_ctr(key, body) if ctr
                            else _encrypt_module(key, body, bmod))
                # spec (parquet-mr/arrow): compressed_page_size holds the
                # ciphertext module length; DuckDB 1.x (empty-AAD peer)
                # expects the plaintext length and over-reads otherwise
                hdr_out = (_patch_page_size(hdr_bytes, len(body_mod))
                           if aad_mode == "spec" else hdr_bytes)
                out += _encrypt_module(key, hdr_out, hmod)
                out += body_mod
                if not is_dict:
                    pmap[pos] = (omap[pos], len(out) - omap[pos])
                pos += len(hdr_bytes) + len(body)
            new_offsets[(rg_i, col_i)] = omap
            page_maps[(rg_i, col_i)] = pmap
            # pages only: bloom modules below are NOT part of
            # total_compressed_size (mirrors the plaintext layout, and the
            # decrypt walk spans exactly the page modules)
            sizes[(rg_i, col_i)] = len(out) - chunk_start
            # patched data/dict offsets must exist in the map
            if dict_off is not None and dict_off not in omap:
                raise ValueError("dictionary_page_offset not on a page boundary")
            if meta[9] not in omap and dict_off is None:
                raise ValueError("data_page_offset not on a page boundary")
            boff = meta.get(14)
            if boff is not None:
                bhdr, hend = read_struct(plain, boff)
                nbytes = bhdr[1]
                new_boff = len(out)
                out += _encrypt_module(
                    key, plain[boff:hend],
                    _module_aad(file_aad, MOD_BLOOM_HEADER, rg_i, col_i))
                out += _encrypt_module(
                    key, plain[hend:hend + nbytes],
                    _module_aad(file_aad, MOD_BLOOM_BITSET, rg_i, col_i))
                bloom_new[(rg_i, col_i)] = (new_boff, len(out) - new_boff)

    # page index region: ColumnIndex carried verbatim, OffsetIndex
    # rewritten against the encrypted module layout, each encrypted as its
    # own module with the chunk's key (spec module types 6/7)
    pageidx_new: dict[tuple[int, int], dict[str, tuple[int, int]]] = {}
    for rg_i, rg in enumerate(row_groups):
        for col_i, cc in enumerate(rg.get(1, [])):
            entry: dict[str, tuple[int, int]] = {}
            key = chunk_keys[(rg_i, col_i)]
            ci_off, ci_len = cc.get(6), cc.get(7)
            if ci_off is not None:
                new_off = len(out)
                out += _encrypt_module(
                    key, plain[ci_off:ci_off + ci_len],
                    _module_aad(file_aad, MOD_COLUMN_INDEX, rg_i, col_i))
                entry["ci"] = (new_off, len(out) - new_off)
            oi_off, oi_len = cc.get(4), cc.get(5)
            if oi_off is not None:
                patched_oi = _patch_offset_index(
                    plain[oi_off:oi_off + oi_len], page_maps[(rg_i, col_i)])
                new_off = len(out)
                out += _encrypt_module(
                    key, patched_oi,
                    _module_aad(file_aad, MOD_OFFSET_INDEX, rg_i, col_i))
                entry["oi"] = (new_off, len(out) - new_off)
            if entry:
                pageidx_new[(rg_i, col_i)] = entry

    def visit(path, v):
        # FileMetaData.row_groups = 4; RowGroup.columns = 1,
        # total_byte_size = 2; ColumnChunk.file_offset = 2, meta_data = 3;
        # ColumnMetaData.total_compressed_size = 7, data_page_offset = 9,
        # dictionary_page_offset = 11
        if len(path) == 3 and path[0] == 4 and path[2] == 2:
            return sum(sz for (rg_i, _), sz in sizes.items() if rg_i == path[1])
        if len(path) < 5 or path[0] != 4 or path[2] != 1:
            return None
        keyc = (path[1], path[3])
        if path[4:] == (2,):
            omap = new_offsets[keyc]
            return omap.get(v, min(omap.values()))
        if path[4:] == (3, 7):
            return sizes[keyc]
        if path[4:] in ((3, 9), (3, 11)):
            omap = new_offsets[keyc]
            if v not in omap:
                raise ValueError("page offset not on a module boundary")
            return omap[v]
        if path[4:] == (4,):
            return pageidx_new[keyc]["oi"][0]
        if path[4:] == (5,):
            return pageidx_new[keyc]["oi"][1]
        if path[4:] == (6,):
            return pageidx_new[keyc]["ci"][0]
        if path[4:] == (7,):
            return pageidx_new[keyc]["ci"][1]
        if path[4:] == (3, 14):
            return bloom_new[keyc][0]
        if path[4:] == (3, 15):
            return bloom_new[keyc][1]
        return None

    # spec mode: ColumnChunk.crypto_metadata (field 8) — union field 1
    # (ENCRYPTION_WITH_FOOTER_KEY, empty struct) for footer-key chunks,
    # union field 2 (ENCRYPTION_WITH_COLUMN_KEY{path_in_schema,
    # key_metadata}) for column-key chunks, spliced delta-correctly before
    # each chunk's STOP. Column-key chunks ALSO get field 9
    # encrypted_column_metadata — the full ColumnMetaData (offsets patched
    # to the encrypted layout) as its own module under the COLUMN key:
    # parquet-cpp/mr readers require it for column-key chunks, and it is
    # what makes the column's stats readable only to column-key holders.
    # empty mode matches DuckDB, which writes no crypto_metadata at all.
    chunk_paths = {
        (rg_i, col_i): ".".join(p.decode() for p in _chunk_meta(cc)[3])
        for rg_i, rg in enumerate(row_groups)
        for col_i, cc in enumerate(rg.get(1, []))
    }

    md_spans = _md_spans(plain[fstart : fstart + flen]) if column_keys \
        else {}

    def _field_hdr(fid, last_fid, ctype):
        delta = fid - last_fid
        if 0 < delta <= 15:
            return bytes([(delta << 4) | ctype])
        return bytes([ctype]) + _uvarint(_zigzag(fid, 16))

    def struct_end(path, last_fid):
        # RowGroup.ordinal (field 7, i16): parquet-mr/arrow readers take
        # the AAD row-group component for COLUMN-KEY modules from this
        # field (not from the positional index), so multi-row-group
        # column-key files are unreadable to them without it
        if (len(path) == 2 and path[0] == 4 and aad_mode == "spec"
                and last_fid < 7):
            return (_field_hdr(7, last_fid, CT_I16)
                    + _uvarint(_zigzag(path[1], 16)))
        if not (len(path) == 4 and path[0] == 4 and path[2] == 1):
            return b""
        if aad_mode != "spec" and not column_keys:
            return b""
        keyc = (path[1], path[3])
        cpath = chunk_paths.get(keyc)
        if cpath is None or 8 <= last_fid:
            return b""
        if cpath in column_keys:
            inner = StructWriter().list_string(1, cpath.split("."))
            ckm = (column_key_metadata or {}).get(cpath)
            if ckm:
                inner.binary(2, ckm)
            union = StructWriter().struct(2, inner)
            s, e = md_spans[keyc]
            patched_md, _ = _transcode(
                plain, fstart + s,
                lambda p, v, kc=keyc: visit((4, kc[0], 1, kc[1], 3) + p, v))
            emd = _encrypt_module(
                column_keys[cpath], patched_md,
                _module_aad(file_aad, MOD_COLUMN_METADATA,
                            keyc[0], keyc[1]))
            return (_field_hdr(8, last_fid, CT_STRUCT) + union.finish()
                    + _field_hdr(9, 8, CT_BINARY)
                    + _uvarint(len(emd)) + emd)
        # footer-key chunk: tagged ENCRYPTION_WITH_FOOTER_KEY in spec
        # mode AND whenever column keys exist — in a file with any
        # tagged chunk, untagged means PLAINTEXT (the arrow/parquet-mr
        # subset-encryption contract), so partial tagging would
        # misread footer-key chunks as plaintext
        union = StructWriter().struct(1, StructWriter())
        return _field_hdr(8, last_fid, CT_STRUCT) + union.finish()

    patched, _ = _transcode(plain, fstart, visit, struct_end=struct_end)

    footer_mod = _encrypt_module(
        footer_key, patched, _module_aad(file_aad, MOD_FOOTER))
    algo = StructWriter()
    if aad_prefix and not supply_aad_prefix:
        algo.binary(1, aad_prefix)  # AesGcm(Ctr)V1.aad_prefix
    if aad_file_unique:
        algo.binary(2, aad_file_unique)
    if supply_aad_prefix:
        algo.boolean(3, True)
    fcmd = StructWriter().struct(
        1, StructWriter().struct(2 if ctr else 1, algo))
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
    ctr = algorithm == "AES_GCM_CTR_V1"
    _aesgcm(footer_key)  # validate key length up front
    file_aad = os.urandom(8) if aad_mode == "spec" else b""

    flen = int.from_bytes(plain[-8:-4], "little")
    fstart = len(plain) - 8 - flen
    fbytes = plain[fstart : fstart + flen]
    fmeta, _ = read_struct(fbytes)
    if fmeta.get(8) is not None:
        raise ValueError("file already carries an encryption_algorithm")
    row_groups = fmeta.get(4, [])
    md_spans = _md_spans(fbytes)

    out = bytearray(MAGIC)
    new_offsets: dict[tuple[int, int], dict[int, int]] = {}
    sizes: dict[tuple[int, int], int] = {}
    page_maps: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    encrypted: set[tuple[int, int]] = set()
    chunk_keys: dict[tuple[int, int], bytes] = {}
    bloom_new: dict[tuple[int, int], tuple[int, int]] = {}
    seen_cols: set[str] = set()
    for rg_i, rg in enumerate(row_groups):
        for col_i, cc in enumerate(rg.get(1, [])):
            meta = _chunk_meta(cc)
            path = ".".join(p.decode() for p in meta[3])
            start, total = _chunk_span(meta)
            dict_off = meta.get(11)
            omap: dict[int, int] = {}
            pmap: dict[int, tuple[int, int]] = {}
            chunk_start = len(out)
            key = column_keys.get(path)
            if key is None:
                # plaintext chunk: pages copied verbatim, offsets shifted
                shift = chunk_start - start
                out += plain[start : start + total]
                pos = start
                first = True
                for hdr_b, _hdr, body in _walk_pages(plain, start, total):
                    omap[pos] = pos + shift
                    if not (dict_off is not None and first):
                        pmap[pos] = (pos + shift, len(hdr_b) + len(body))
                    first = False
                    pos += len(hdr_b) + len(body)
                boff = meta.get(14)
                if boff is not None:
                    bhdr, hend = read_struct(plain, boff)
                    span = (hend - boff) + bhdr[1]
                    bloom_new[(rg_i, col_i)] = (len(out), span)
                    out += plain[boff : boff + span]
            else:
                seen_cols.add(path)
                encrypted.add((rg_i, col_i))
                chunk_keys[(rg_i, col_i)] = key
                page_ord = 0
                pos = start
                end = start + total
                for hdr_bytes, hdr, body in _walk_pages(plain, start, total):
                    is_dict = hdr.get(1) == PAGE_DICT
                    if is_dict:
                        hmod = _module_aad(
                            file_aad, MOD_DICT_PAGE_HEADER, rg_i, col_i)
                        bmod = _module_aad(
                            file_aad, MOD_DICT_PAGE, rg_i, col_i)
                    else:
                        hmod = _module_aad(file_aad, MOD_DATA_PAGE_HEADER,
                                           rg_i, col_i, page_ord)
                        bmod = _module_aad(file_aad, MOD_DATA_PAGE,
                                           rg_i, col_i, page_ord)
                        page_ord += 1
                    omap[pos] = len(out)
                    body_mod = (_encrypt_module_ctr(key, body) if ctr
                                else _encrypt_module(key, body, bmod))
                    hdr_out = (_patch_page_size(hdr_bytes, len(body_mod))
                               if aad_mode == "spec" else hdr_bytes)
                    out += _encrypt_module(key, hdr_out, hmod)
                    out += body_mod
                    if not is_dict:
                        pmap[pos] = (omap[pos], len(out) - omap[pos])
                    pos += len(hdr_bytes) + len(body)
                boff = meta.get(14)
                if boff is not None:
                    bhdr, hend = read_struct(plain, boff)
                    new_boff = len(out)
                    out += _encrypt_module(
                        key, plain[boff:hend],
                        _module_aad(file_aad, MOD_BLOOM_HEADER, rg_i, col_i))
                    out += _encrypt_module(
                        key, plain[hend : hend + bhdr[1]],
                        _module_aad(file_aad, MOD_BLOOM_BITSET, rg_i, col_i))
                    bloom_new[(rg_i, col_i)] = (new_boff, len(out) - new_boff)
            new_offsets[(rg_i, col_i)] = omap
            page_maps[(rg_i, col_i)] = pmap
            sizes[(rg_i, col_i)] = (
                (len(out) - chunk_start)
                if (rg_i, col_i) in encrypted else total)
            if (rg_i, col_i) in encrypted:
                # bloom modules sit outside total_compressed_size
                sizes[(rg_i, col_i)] -= (
                    bloom_new.get((rg_i, col_i), (0, 0))[1])
    missing = set(column_keys) - seen_cols
    if missing:
        raise ValueError(f"column_keys name absent columns: {sorted(missing)}")

    # page index region: encrypted columns as modules, plaintext columns
    # verbatim (OffsetIndex page locations rewritten for both — the whole
    # layout moved)
    pageidx_new: dict[tuple[int, int], dict[str, tuple[int, int]]] = {}
    for rg_i, rg in enumerate(row_groups):
        for col_i, cc in enumerate(rg.get(1, [])):
            entry: dict[str, tuple[int, int]] = {}
            enc = (rg_i, col_i) in encrypted
            ci_off, ci_len = cc.get(6), cc.get(7)
            if ci_off is not None:
                ci = plain[ci_off : ci_off + ci_len]
                if enc:
                    ci = _encrypt_module(
                        chunk_keys[(rg_i, col_i)], ci,
                        _module_aad(file_aad, MOD_COLUMN_INDEX, rg_i, col_i))
                entry["ci"] = (len(out), len(ci))
                out += ci
            oi_off, oi_len = cc.get(4), cc.get(5)
            if oi_off is not None:
                oi = _patch_offset_index(
                    plain[oi_off : oi_off + oi_len], page_maps[(rg_i, col_i)])
                if enc:
                    oi = _encrypt_module(
                        chunk_keys[(rg_i, col_i)], oi,
                        _module_aad(file_aad, MOD_OFFSET_INDEX, rg_i, col_i))
                entry["oi"] = (len(out), len(oi))
                out += oi
            if entry:
                pageidx_new[(rg_i, col_i)] = entry

    def md_visit(keyc):
        # offset patches addressed relative to one ColumnMetaData struct
        def visit(path, v):
            if path == (7,):
                return sizes[keyc]
            if path in ((9,), (11,)):
                return new_offsets[keyc][v]
            if path == (14,):
                return bloom_new[keyc][0]
            if path == (15,):
                return bloom_new[keyc][1]
            return None
        return visit

    enc_md: dict[tuple[int, int], bytes] = {}
    for keyc in encrypted:
        s, e = md_spans[keyc]
        patched_md, _ = _transcode(fbytes, s, md_visit(keyc))
        enc_md[keyc] = _encrypt_module(
            chunk_keys[keyc], patched_md,
            _module_aad(file_aad, MOD_COLUMN_METADATA, keyc[0], keyc[1]))

    def visit(path, v):
        if len(path) == 3 and path[0] == 4 and path[2] == 2:
            return sum(sz for (rg_i, _), sz in sizes.items()
                       if rg_i == path[1])
        if len(path) < 5 or path[0] != 4 or path[2] != 1:
            return None
        keyc = (path[1], path[3])
        if path[4:] == (2,):
            omap = new_offsets[keyc]
            return omap.get(v, min(omap.values()))
        if path[4:] == (3, 7):
            return sizes[keyc]
        if path[4:] in ((3, 9), (3, 11)):
            return new_offsets[keyc][v]
        if path[4:] == (4,):
            return pageidx_new[keyc]["oi"][0]
        if path[4:] == (5,):
            return pageidx_new[keyc]["oi"][1]
        if path[4:] == (6,):
            return pageidx_new[keyc]["ci"][0]
        if path[4:] == (7,):
            return pageidx_new[keyc]["ci"][1]
        if path[4:] == (3, 14):
            return bloom_new[keyc][0]
        if path[4:] == (3, 15):
            return bloom_new[keyc][1]
        return None

    def drop(p):
        # redaction: Statistics (12) / SizeStatistics (16) of ENCRYPTED
        # columns leave the plaintext footer — the full ColumnMetaData
        # travels only inside encrypted_column_metadata
        return (len(p) == 6 and p[0] == 4 and p[2] == 1 and p[4] == 3
                and p[5] in (12, 16) and (p[1], p[3]) in encrypted)

    def _field_hdr(fid, last_fid, ctype):
        delta = fid - last_fid
        if 0 < delta <= 15:
            return bytes([(delta << 4) | ctype])
        return bytes([ctype]) + _uvarint(_zigzag(fid, 16))

    chunk_paths = {
        (rg_i, col_i): ".".join(p.decode() for p in _chunk_meta(cc)[3])
        for rg_i, rg in enumerate(row_groups)
        for col_i, cc in enumerate(rg.get(1, []))
    }

    def struct_end(path, last_fid):
        if path == ():
            # FileMetaData.encryption_algorithm(8) marks the file as
            # plaintext-footer encrypted; footer_signing_key_metadata(9)
            algo = StructWriter()
            if file_aad:
                algo.binary(2, file_aad)  # AesGcmV1.aad_file_unique
            extra = (_field_hdr(8, last_fid, CT_STRUCT)
                     + StructWriter().struct(2 if ctr else 1, algo).finish())
            if footer_key_metadata:
                extra += (_field_hdr(9, 8, CT_BINARY)
                          + _uvarint(len(footer_key_metadata))
                          + footer_key_metadata)
            return extra
        # RowGroup.ordinal — spec readers take the AAD row-group
        # component for column-key modules from this field
        if (len(path) == 2 and path[0] == 4 and aad_mode == "spec"
                and last_fid < 7):
            return (_field_hdr(7, last_fid, CT_I16)
                    + _uvarint(_zigzag(path[1], 16)))
        if not (len(path) == 4 and path[0] == 4 and path[2] == 1):
            return b""
        keyc = (path[1], path[3])
        if keyc not in encrypted or last_fid >= 8:
            return b""
        inner = StructWriter().list_string(
            1, chunk_paths[keyc].split("."))
        ckm = (column_key_metadata or {}).get(chunk_paths[keyc])
        if ckm:
            inner.binary(2, ckm)
        union = StructWriter().struct(2, inner)
        emd = enc_md[keyc]
        return (_field_hdr(8, last_fid, CT_STRUCT) + union.finish()
                + _field_hdr(9, 8, CT_BINARY) + _uvarint(len(emd)) + emd)

    patched, _ = _transcode(fbytes, 0, visit, struct_end=struct_end,
                            drop=drop)

    sig = _encrypt_module(
        footer_key, patched, _module_aad(file_aad, MOD_FOOTER))
    nonce, tag = sig[4 : 4 + NONCE_LEN], sig[-TAG_LEN:]
    out += patched
    out += nonce + tag
    out += struct.pack("<I", len(patched) + NONCE_LEN + TAG_LEN)
    out += MAGIC
    return bytes(out)


# --------------------------------------------------------- decrypt side

def read_crypto_footer(buf: bytes) -> dict:
    """Parse the tail of a PARE file -> {aad_file_unique, key_metadata,
    footer_module_start, algorithm}. Raises ValueError for non-encrypted
    files. ``algorithm`` is 'AES_GCM_V1' or 'AES_GCM_CTR_V1' (union
    fields 1/2 of EncryptionAlgorithm; both carry the same AAD trio)."""
    if buf[:4] != EMAGIC or buf[-4:] != EMAGIC:
        raise ValueError("not an encrypted-footer parquet file (PARE magic)")
    (clen,) = struct.unpack_from("<I", buf, len(buf) - 8)
    area_start = len(buf) - 8 - clen
    fcmd, pos = read_struct(buf[area_start : len(buf) - 8])
    algo = fcmd.get(1, {})
    if 1 in algo:
        gcm, algorithm = algo[1] or {}, "AES_GCM_V1"
    elif 2 in algo:
        gcm, algorithm = algo[2] or {}, "AES_GCM_CTR_V1"
    else:
        raise ValueError("FileCryptoMetaData missing encryption_algorithm")
    return {
        "aad_file_unique": gcm.get(2, b"") if isinstance(gcm, dict) else b"",
        "aad_prefix": gcm.get(1, b"") if isinstance(gcm, dict) else b"",
        "supply_aad_prefix": bool(gcm.get(3)) if isinstance(gcm, dict) else False,
        "key_metadata": fcmd.get(2),
        "footer_module_start": area_start + pos,
        "algorithm": algorithm,
    }


def decrypt_parquet(buf: bytes, footer_key: bytes,
                    column_keys: dict[str, bytes] | None = None,
                    aad_prefix: bytes = b"") -> bytes:
    """Encrypted parquet bytes -> fully plaintext PAR1 bytes that the
    existing parquet_reader decodes unchanged. Handles encrypted-footer
    (PARE) files — both spec AAD (aad_file_unique + module suffixes) and
    empty-AAD (DuckDB) — AND plaintext-footer (PAR1, signed footer)
    files, whose signature is verified with the footer key before the
    encrypted columns are decrypted and their redacted ColumnMetaData
    restored."""
    column_keys = column_keys or {}
    plaintext_footer = buf[:4] == MAGIC and buf[-4:] == MAGIC
    if plaintext_footer:
        flen = int.from_bytes(buf[-8:-4], "little")
        combined = buf[len(buf) - 8 - flen : len(buf) - 8]
        if len(combined) <= NONCE_LEN + TAG_LEN:
            raise ValueError("footer too short for a signature")
        fbytes = combined[: -(NONCE_LEN + TAG_LEN)]
        nonce = combined[-(NONCE_LEN + TAG_LEN) : -TAG_LEN]
        tag = combined[-TAG_LEN:]
        fmeta, _ = read_struct(fbytes)
        algo_u = fmeta.get(8)
        if algo_u is None:
            raise ValueError(
                "plaintext parquet file carries no encryption_algorithm")
        if 1 in algo_u:
            gcm, algorithm = algo_u[1] or {}, "AES_GCM_V1"
        elif 2 in algo_u:
            gcm, algorithm = algo_u[2] or {}, "AES_GCM_CTR_V1"
        else:
            raise ValueError("unknown encryption_algorithm union field")
        if gcm.get(3) and not aad_prefix:
            raise ValueError("file requires caller-supplied aad_prefix")
        file_aad = (aad_prefix or gcm.get(1, b"")) + gcm.get(2, b"")
        ct = _aesgcm(footer_key).encrypt(
            nonce, fbytes, _module_aad(file_aad, MOD_FOOTER) or None)
        if not hmac.compare_digest(ct[-TAG_LEN:], tag):
            raise ValueError(
                "footer signature verification failed (wrong footer key "
                "or tampered footer)")
        info = {"algorithm": algorithm}
    else:
        info = read_crypto_footer(buf)
        if info["supply_aad_prefix"] and not aad_prefix:
            raise ValueError("file requires caller-supplied aad_prefix")
        file_aad = (aad_prefix or info["aad_prefix"]) \
            + info["aad_file_unique"]
        fbytes, _ = _decrypt_module(
            footer_key, buf, info["footer_module_start"],
            _module_aad(file_aad, MOD_FOOTER))
        fmeta, _ = read_struct(fbytes)
    row_groups = fmeta.get(4, [])

    out = bytearray(MAGIC)
    new_offsets: dict[tuple[int, int], dict[int, int]] = {}
    sizes: dict[tuple[int, int], int] = {}
    page_maps: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    chunk_keys: dict[tuple[int, int], bytes] = {}
    bloom_new: dict[tuple[int, int], tuple[int, int]] = {}
    # chunks whose inline meta_data was REMOVED by the writer (parquet-mr/
    # arrow fully redact column-key chunks): decrypted ColumnMetaData raw
    # bytes, re-emitted as field 3 in the plaintext footer
    redacted_md: dict[tuple[int, int], bytes] = {}
    chunk_metas: dict[tuple[int, int], dict] = {}
    # subset-encryption contract (arrow/parquet-mr): when ANY chunk is
    # tagged with crypto_metadata, untagged chunks are PLAINTEXT and are
    # copied through verbatim (key None)
    any_tagged = any(
        cc.get(8) is not None
        for rg in row_groups for cc in rg.get(1, []))
    for rg_i, rg in enumerate(row_groups):
        rg_ord = rg.get(7, rg_i)  # AAD uses RowGroup.ordinal when present
        for col_i, cc in enumerate(rg.get(1, [])):
            crypto = cc.get(8)
            if crypto is not None and 2 in crypto:
                path = ".".join(p.decode() for p in crypto[2].get(1, []))
                if path not in column_keys:
                    raise ValueError(
                        f"column {path!r} is encrypted with a column key; "
                        "pass it in column_keys")
                key = column_keys[path]
            elif crypto is None and (any_tagged or plaintext_footer):
                key = None  # plaintext chunk
            else:
                path = ".".join(p.decode() for p in _chunk_meta(cc)[3])
                key = column_keys.get(path, footer_key)
            meta = cc.get(3)
            emd = cc.get(9)
            if emd is not None and key is not None:
                # encrypted_column_metadata is the authoritative copy
                # (inline meta_data is absent for arrow files, REDACTED
                # — statistics stripped — for plaintext-footer files);
                # restore it into the output footer
                md_plain, _ = _decrypt_module(
                    key, emd, 0,
                    _module_aad(file_aad, MOD_COLUMN_METADATA,
                                rg_ord, col_i))
                redacted_md[(rg_i, col_i)] = md_plain
                meta, _ = read_struct(md_plain)
            elif meta is None:
                raise ValueError(
                    "ColumnChunk carries neither meta_data nor "
                    "encrypted_column_metadata")
            chunk_metas[(rg_i, col_i)] = meta
            chunk_keys[(rg_i, col_i)] = key
            start, total = _chunk_span(meta)
            has_dict = meta.get(11) is not None
            omap: dict[int, int] = {}
            pmap: dict[int, tuple[int, int]] = {}
            chunk_start = len(out)
            pos = start
            end = start + total
            page_ord = 0
            first = True
            if key is None:
                # plaintext chunk: copy pages verbatim, offsets remapped
                for hdr_bytes, header, body in _walk_pages(
                        buf, start, total):
                    omap[pos] = len(out)
                    out += hdr_bytes
                    out += body
                    if header.get(1) != 2:
                        pmap[pos] = (omap[pos], len(out) - omap[pos])
                    pos += len(hdr_bytes) + len(body)
                new_offsets[(rg_i, col_i)] = omap
                page_maps[(rg_i, col_i)] = pmap
                sizes[(rg_i, col_i)] = len(out) - chunk_start
                boff = meta.get(14)
                if boff is not None:
                    bhdr, hend = read_struct(buf, boff)
                    nbytes = bhdr[1]
                    bloom_new[(rg_i, col_i)] = (
                        len(out), hend - boff + nbytes)
                    out += buf[boff:hend + nbytes]
                continue
            while pos < end:
                is_dict = has_dict and first
                if is_dict:
                    hmod = _module_aad(file_aad, MOD_DICT_PAGE_HEADER, rg_ord, col_i)
                    bmod = _module_aad(file_aad, MOD_DICT_PAGE, rg_ord, col_i)
                else:
                    hmod = _module_aad(
                        file_aad, MOD_DATA_PAGE_HEADER, rg_ord, col_i, page_ord)
                    bmod = _module_aad(
                        file_aad, MOD_DATA_PAGE, rg_ord, col_i, page_ord)
                    page_ord += 1
                first = False
                mod_start = pos
                omap[pos] = len(out)
                hdr_bytes, pos = _decrypt_module(key, buf, pos, hmod)
                # GCM_CTR mode: page BODIES are CTR modules (no tag/AAD);
                # every metadata module stays GCM
                if info["algorithm"] == "AES_GCM_CTR_V1":
                    body, pos = _decrypt_module_ctr(key, buf, pos)
                else:
                    body, pos = _decrypt_module(key, buf, pos, bmod)
                # compressed_page_size back to the plaintext length (it
                # held the ciphertext module length in the encrypted file)
                out += _patch_page_size(hdr_bytes, len(body))
                out += body
                if not is_dict:
                    pmap[mod_start] = (
                        omap[mod_start], len(out) - omap[mod_start])
            if pos != end:
                raise ValueError("encrypted chunk module walk overran span")
            new_offsets[(rg_i, col_i)] = omap
            page_maps[(rg_i, col_i)] = pmap
            sizes[(rg_i, col_i)] = len(out) - chunk_start
            boff = meta.get(14)
            if boff is not None:
                bhdr_bytes, bpos = _decrypt_module(
                    key, buf, boff,
                    _module_aad(file_aad, MOD_BLOOM_HEADER, rg_ord, col_i))
                bits, _ = _decrypt_module(
                    key, buf, bpos,
                    _module_aad(file_aad, MOD_BLOOM_BITSET, rg_ord, col_i))
                new_boff = len(out)
                out += bhdr_bytes
                out += bits
                bloom_new[(rg_i, col_i)] = (new_boff, len(out) - new_boff)

    # page index region back to plaintext (ColumnIndex verbatim,
    # OffsetIndex page locations rewritten to the plaintext layout)
    pageidx_new: dict[tuple[int, int], dict[str, tuple[int, int]]] = {}
    for rg_i, rg in enumerate(row_groups):
        rg_ord = rg.get(7, rg_i)
        for col_i, cc in enumerate(rg.get(1, [])):
            entry: dict[str, tuple[int, int]] = {}
            key = chunk_keys[(rg_i, col_i)]
            ci_off, ci_len = cc.get(6), cc.get(7)
            if ci_off is not None:
                if ci_len is None:
                    raise ValueError(
                        "malformed footer: column_index_offset without "
                        "column_index_length")
                if key is None:  # plaintext chunk: index bytes verbatim
                    ci = bytes(buf[ci_off:ci_off + ci_len])
                else:
                    ci, _ = _decrypt_module(
                        key, buf, ci_off,
                        _module_aad(file_aad, MOD_COLUMN_INDEX,
                                    rg_ord, col_i))
                entry["ci"] = (len(out), len(ci))
                out += ci
            oi_off, oi_len = cc.get(4), cc.get(5)
            if oi_off is not None:
                if oi_len is None:
                    raise ValueError(
                        "malformed footer: offset_index_offset without "
                        "offset_index_length")
                if key is None:
                    oi = bytes(buf[oi_off:oi_off + oi_len])
                else:
                    oi, _ = _decrypt_module(
                        key, buf, oi_off,
                        _module_aad(file_aad, MOD_OFFSET_INDEX,
                                    rg_ord, col_i))
                oi = _patch_offset_index(oi, page_maps[(rg_i, col_i)])
                entry["oi"] = (len(out), len(oi))
                out += oi
            if entry:
                pageidx_new[(rg_i, col_i)] = entry

    def visit(path, v):
        if len(path) == 3 and path[0] == 4 and path[2] == 2:
            return sum(sz for (rg_i, _), sz in sizes.items() if rg_i == path[1])
        if len(path) < 5 or path[0] != 4 or path[2] != 1:
            return None
        keyc = (path[1], path[3])
        if path[4:] == (2,):
            omap = new_offsets[keyc]
            return omap.get(v, min(omap.values()))
        if path[4:] == (3, 7):
            return sizes[keyc]
        if path[4:] in ((3, 9), (3, 11)):
            return new_offsets[keyc][v]
        if path[4:] == (4,):
            return pageidx_new[keyc]["oi"][0]
        if path[4:] == (5,):
            return pageidx_new[keyc]["oi"][1]
        if path[4:] == (6,):
            return pageidx_new[keyc]["ci"][0]
        if path[4:] == (7,):
            return pageidx_new[keyc]["ci"][1]
        if path[4:] == (3, 14):
            return bloom_new[keyc][0]
        if path[4:] == (3, 15):
            return bloom_new[keyc][1]
        return None

    def drop(p):
        # the plaintext output must not advertise encryption:
        # ColumnChunk.crypto_metadata(8) and encrypted_column_metadata(9);
        # inline meta_data (3) of chunks whose authoritative copy came
        # from encrypted_column_metadata (re-spliced by struct_end); and
        # FileMetaData.encryption_algorithm(8) +
        # footer_signing_key_metadata(9) of plaintext-footer inputs
        if len(p) == 5 and p[0] == 4 and p[2] == 1 and p[4] in (8, 9):
            return True
        if (len(p) == 5 and p[0] == 4 and p[2] == 1 and p[4] == 3
                and (p[1], p[3]) in redacted_md):
            return True
        return plaintext_footer and p in ((8,), (9,))

    def struct_end(path, last_fid):
        # re-emit the decrypted ColumnMetaData (offsets patched to the
        # plaintext layout) as field 3 for chunks the writer redacted;
        # long-form header since field 3 lands after fields 4-7
        if not (len(path) == 4 and path[0] == 4 and path[2] == 1):
            return b""
        keyc = (path[1], path[3])
        md = redacted_md.get(keyc)
        if md is None:
            return b""
        patched_md, _ = _transcode(
            md, 0, lambda p, v, kc=keyc: visit((4, kc[0], 1, kc[1], 3) + p, v))
        return (bytes([CT_STRUCT]) + _uvarint(_zigzag(3, 16))
                + patched_md)

    patched, _ = _transcode(fbytes, 0, visit, struct_end=struct_end,
                            drop=drop)
    out += patched
    out += struct.pack("<I", len(patched))
    out += MAGIC
    return bytes(out)


class FileDecryptor:
    """Lazy module-granular decryption for the NATIVE encrypted scan — the
    InternalFileDecryptor analog (parquet-hadoop .../crypto/
    InternalFileDecryptor.java:36, ParquetFileReader's encrypted read
    path). Unlike :func:`decrypt_parquet` (a whole-file transform), only
    the modules the filtered reader actually touches are decrypted: the
    footer, then — for row groups that survive stats pruning — the probed
    dictionary/bloom/page-index modules and the page modules inside the
    surviving row ranges. At scale a selective predicate therefore
    decrypts a small fraction of the ciphertext; ``modules_decrypted`` vs
    :meth:`count_modules` quantifies exactly how much was skipped."""

    def __init__(self, buf: bytes, footer_key: bytes,
                 column_keys: dict[str, bytes] | None = None,
                 aad_prefix: bytes = b""):
        self.buf = buf
        self.column_keys = column_keys or {}
        self.modules_decrypted = 0
        self._idx_cache: dict[int, bytes] = {}
        self._md_override: dict[tuple[int, int], dict] = {}
        if buf[-4:] == EMAGIC:
            self.plaintext_footer = False
            info = read_crypto_footer(buf)
            if info["supply_aad_prefix"] and not aad_prefix:
                raise ValueError("file requires caller-supplied aad_prefix")
            self.algorithm = info["algorithm"]
            self.file_aad = (aad_prefix or info["aad_prefix"]) \
                + info["aad_file_unique"]
            self.footer_bytes, _ = _decrypt_module(
                footer_key, buf, info["footer_module_start"],
                _module_aad(self.file_aad, MOD_FOOTER))
            self.modules_decrypted += 1
        elif buf[-4:] == MAGIC:
            # plaintext-footer mode: PAR1 magic, FileMetaData in the clear
            # with encryption_algorithm set, footer SIGNED (nonce + GCM
            # tag between footer and length) — verified by re-encrypting
            # the footer bytes with the stored nonce and comparing tags
            # (the InternalFileDecryptor footer-signature contract)
            self.plaintext_footer = True
            flen = int.from_bytes(buf[-8:-4], "little")
            combined = buf[len(buf) - 8 - flen : len(buf) - 8]
            if len(combined) <= NONCE_LEN + TAG_LEN:
                raise ValueError("footer too short for a signature")
            self.footer_bytes = combined[: -(NONCE_LEN + TAG_LEN)]
            nonce = combined[-(NONCE_LEN + TAG_LEN) : -TAG_LEN]
            tag = combined[-TAG_LEN:]
            fmeta0, _ = read_struct(self.footer_bytes)
            algo = fmeta0.get(8)
            if algo is None:
                raise ValueError(
                    "plaintext parquet file carries no encryption_algorithm")
            if 1 in algo:
                gcm, self.algorithm = algo[1] or {}, "AES_GCM_V1"
            elif 2 in algo:
                gcm, self.algorithm = algo[2] or {}, "AES_GCM_CTR_V1"
            else:
                raise ValueError("unknown encryption_algorithm union field")
            if gcm.get(3) and not aad_prefix:
                raise ValueError("file requires caller-supplied aad_prefix")
            self.file_aad = (aad_prefix or gcm.get(1, b"")) + gcm.get(2, b"")
            ct = _aesgcm(footer_key).encrypt(
                nonce, self.footer_bytes,
                _module_aad(self.file_aad, MOD_FOOTER) or None)
            if not hmac.compare_digest(ct[-TAG_LEN:], tag):
                raise ValueError(
                    "footer signature verification failed (wrong footer "
                    "key or tampered footer)")
        else:
            raise ValueError("not a parquet file (magic)")
        fmeta, _ = read_struct(self.footer_bytes)
        # per-chunk key resolution is a footer-only walk (no data decrypt);
        # key None = plaintext chunk (plaintext-footer mode only). For a
        # column-key chunk the dotted path comes from the crypto-metadata
        # union — parquet-mr/arrow REMOVE the inline meta_data entirely for
        # those chunks (full redaction) and only encrypted_column_metadata
        # carries it, so meta_data may legitimately be absent here.
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
                    path = ".".join(
                        p.decode() for p in crypto[2].get(1, []))
                    if path not in self.column_keys:
                        raise ValueError(
                            f"column {path!r} is encrypted with a column "
                            "key; pass it in column_keys")
                    self._keys[(rg_i, col_i)] = self.column_keys[path]
                elif self.plaintext_footer:
                    if crypto is not None:
                        raise ValueError(
                            "plaintext-footer mode: footer-key-encrypted "
                            "columns are not allowed by the spec")
                    self._keys[(rg_i, col_i)] = None
                elif crypto is None and any_tagged:
                    self._keys[(rg_i, col_i)] = None  # plaintext chunk
                else:
                    path = ".".join(p.decode() for p in _chunk_meta(cc)[3])
                    self._keys[(rg_i, col_i)] = self.column_keys.get(
                        path, footer_key)
                emd = cc.get(9)
                if emd is not None and self._keys[(rg_i, col_i)] is not None:
                    # encrypted_column_metadata: the unredacted
                    # ColumnMetaData under the column key
                    md_plain, _ = _decrypt_module(
                        self._keys[(rg_i, col_i)], emd, 0,
                        _module_aad(self.file_aad, MOD_COLUMN_METADATA,
                                    self._rg_ord[rg_i], col_i))
                    self.modules_decrypted += 1
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

    def bloom(self, rg_i: int, col_i: int, off: int) -> tuple[dict, bytes]:
        """Decrypt a chunk's BloomFilterHeader + bitset modules."""
        hb, pos = self._mod(rg_i, col_i, off, MOD_BLOOM_HEADER)
        bits, _ = self._mod(rg_i, col_i, pos, MOD_BLOOM_BITSET)
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
        pos, end = start, start + total
        page_ord = 0
        first = True
        while pos < end:
            is_dict = has_dict and first
            first = False
            omap[pos] = len(out)
            hdr, body, pos = self.page(
                rg_i, col_i, pos, is_dict,
                -1 if is_dict else page_ord)
            if not is_dict:
                page_ord += 1
            out += hdr
            out += body
        if pos != end:
            raise ValueError("encrypted chunk module walk overran span")
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
