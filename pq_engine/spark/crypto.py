"""Modular page encryption — the parquet-hadoop crypto analog
(/root/reference/parquet-hadoop/.../crypto/: AesGcmEncryptor/Decryptor,
ModuleCipherFactory module types, AAD = file prefix + module suffix;
column keys per EncryptionPropertiesFactory).

AES-GCM (AEAD) over each page blob with a per-COLUMN key, additional
authenticated data binding the ciphertext to its exact position
``(module_type, split, batch, column, page)`` — a page moved, swapped or
truncated fails authentication, the property the reference's module-AAD
scheme provides. Blob layout: ``12-byte nonce || ciphertext+tag``; the
page's ``compression`` label gains a ``+aes-gcm`` suffix so a decode
without :func:`decrypt_pages` fails loudly instead of mis-decoding.

Columns without a key pass through untouched (the reference's
plaintext-column mode). Masked re-encrypt = rewrite.mask_hash ∘
encrypt_pages.
"""

from __future__ import annotations

import os
import struct

import pandas as pd
from pyspark.sql import DataFrame

from ..pages import COLINDEX_PAGE, ENCRYPTED_SUFFIX, GEO_PAGE, ROWRANGES_PAGE, SIZESTATS_PAGE
from .engine import PAGE_SCHEMA


def available() -> bool:
    """True when the AES-GCM backend (`cryptography`, present in this
    environment but gated per the stub-or-import-try rule) can load."""
    try:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # noqa: F401

        return True
    except ImportError:
        return False


MODULE_FOOTER = 0  # ModuleCipherFactory.ModuleType.Footer ordinal
MODULE_DATA_PAGE = 2  # ModuleCipherFactory.ModuleType.DataPage ordinal

FOOTER_MAGIC = b"PARE1\x00"  # encrypted-footer file magic — the reference
# flips "PAR1" to "PARE" when the footer is encrypted
# (/root/reference/parquet-hadoop/.../ParquetFileWriter.java:110-113,
#  EFMAGIC; ParquetFileReader refuses to read the footer without the key)


def _aad(prefix: bytes, split: int, batch: int, column: str, page: int) -> bytes:
    return (
        prefix
        + bytes([MODULE_DATA_PAGE])
        + struct.pack("<iii", split, batch, page)
        + column.encode()
    )


def encrypt_pages(pages: DataFrame, keys: dict[str, bytes],
                  aad_prefix: bytes = b"") -> DataFrame:
    """Encrypt every page (data, dict, bloom) of the keyed columns."""
    for k in keys.values():
        if len(k) not in (16, 24, 32):
            raise ValueError("AES keys must be 16/24/32 bytes")

    def run(it):
        import zlib as _z

        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        ciphers = {c: AESGCM(k) for c, k in keys.items()}
        for pdf in it:
            out = pdf.copy()
            datas, comps, crcs, mins, maxs, ndvs = [], [], [], [], [], []
            for r in pdf.itertuples():
                if r.column not in ciphers or r.page == ROWRANGES_PAGE:
                    datas.append(bytes(r.data))
                    comps.append(r.compression)
                    crcs.append(int(r.crc32))
                    mins.append(r.min)
                    maxs.append(r.max)
                    ndvs.append(int(r.ndv))
                    continue
                # metadata-only rows (colindex -4, geostats -5) carry their
                # payload in `min` — move it INTO the ciphertext so boundary
                # order / bbox don't leak plaintext properties, and decrypt
                # can restore them (they'd otherwise be destroyed — r3
                # self-review #1)
                if r.page in (COLINDEX_PAGE, GEO_PAGE, SIZESTATS_PAGE):
                    pt = (r.min or "").encode()
                else:
                    # carry (min, max, ndv) INSIDE the authenticated
                    # ciphertext: stats stay hidden at rest (no plaintext
                    # leak beside AES-GCM) yet decrypt restores them, so a
                    # decrypted table prunes exactly like an unencrypted one
                    # (r3 known-gap #4; reference encrypts its column-index
                    # module the same way)
                    import json as _j

                    hdr = _j.dumps([r.min, r.max, int(r.ndv)]).encode()
                    pt = len(hdr).to_bytes(4, "little") + hdr + bytes(r.data)
                nonce = os.urandom(12)
                ct = ciphers[r.column].encrypt(
                    nonce,
                    pt,
                    _aad(aad_prefix, int(r.split_id), int(r.batch_id), r.column, int(r.page)),
                )
                datas.append(nonce + ct)
                comps.append(r.compression + ENCRYPTED_SUFFIX)
                # crc over the CIPHERTEXT: a plaintext checksum beside AES-GCM
                # is a 32-bit confirmation oracle for guessable page contents
                # (ADVICE r2). decrypt_pages recomputes the plaintext crc after
                # authentication. min/max/ndv are likewise withheld — the
                # reference encrypts column indexes with their own module type.
                crcs.append(_z.crc32(nonce + ct) & 0xFFFFFFFF)
                mins.append(None)
                maxs.append(None)
                ndvs.append(-1)
            out["data"] = datas
            out["compression"] = comps
            out["crc32"] = crcs
            out["min"] = mins
            out["max"] = maxs
            out["ndv"] = ndvs
            out["encoded_bytes"] = [len(d) for d in datas]
            yield out

    return pages.mapInPandas(run, PAGE_SCHEMA)


def decrypt_pages(pages: DataFrame, keys: dict[str, bytes],
                  aad_prefix: bytes = b"") -> DataFrame:
    """Inverse of encrypt_pages; GCM tag verification makes every page
    tamper-evident (wrong key, bit flips, or page swaps all raise)."""

    def run(it):
        import zlib as _z

        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        ciphers = {c: AESGCM(k) for c, k in keys.items()}
        for pdf in it:
            out = pdf.copy()
            datas, comps, encs, crcs, mins, maxs, ndvs = [], [], [], [], [], [], []
            for r in pdf.itertuples():
                if not r.compression.endswith(ENCRYPTED_SUFFIX):
                    datas.append(bytes(r.data))
                    comps.append(r.compression)
                    encs.append(int(r.encoded_bytes))
                    crcs.append(int(r.crc32))
                    mins.append(r.min)
                    maxs.append(r.max)
                    ndvs.append(int(r.ndv))
                    continue
                if r.column not in ciphers:
                    raise PermissionError(f"no key for encrypted column {r.column!r}")
                blob = bytes(r.data)
                pt = ciphers[r.column].decrypt(
                    blob[:12],
                    blob[12:],
                    _aad(aad_prefix, int(r.split_id), int(r.batch_id), r.column, int(r.page)),
                )
                if r.page in (COLINDEX_PAGE, GEO_PAGE, SIZESTATS_PAGE):
                    # restore the metadata payload hidden at encrypt time
                    payload = pt.decode() if pt else None
                    datas.append(b"")
                    encs.append(0)
                    crcs.append(0)
                    mins.append(payload)
                    maxs.append(payload)
                    ndvs.append(-1)
                else:
                    import json as _j

                    hlen = int.from_bytes(pt[:4], "little")
                    mn, mx, ndv = _j.loads(pt[4 : 4 + hlen])
                    body = pt[4 + hlen :]
                    datas.append(body)
                    encs.append(len(body))
                    # recompute the plaintext crc post-authentication (the
                    # stored crc covers the ciphertext — see encrypt_pages)
                    crcs.append(_z.crc32(body) & 0xFFFFFFFF)
                    mins.append(mn)
                    maxs.append(mx)
                    ndvs.append(int(ndv))
                comps.append(r.compression[: -len(ENCRYPTED_SUFFIX)])
            out["data"] = datas
            out["compression"] = comps
            out["encoded_bytes"] = encs
            out["crc32"] = crcs
            out["min"] = mins
            out["max"] = maxs
            out["ndv"] = ndvs
            yield out

    return pages.mapInPandas(run, PAGE_SCHEMA)


# ------------------------------------------------------------------ footer key


def encrypt_footer_manifest(schema_rows: list[tuple[str, str]], footer_key: bytes,
                            aad_prefix: bytes = b"") -> bytes:
    """Encrypt the job's (column → ptype) schema manifest — our footer analog —
    with a dedicated FOOTER key, separate from any column key (the reference's
    encrypted-footer mode: FileEncryptionProperties footer key + PARE magic,
    /root/reference/parquet-hadoop/.../crypto/FileEncryptionProperties.java).
    Blob: ``PARE1\\x00 || 12-byte nonce || AES-GCM(ciphertext+tag)``; AAD binds
    the module type so a footer blob can't be replayed as a data page."""
    import json

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    if len(footer_key) not in (16, 24, 32):
        raise ValueError("AES keys must be 16/24/32 bytes")
    pt = json.dumps([[c, p] for c, p in schema_rows]).encode()
    nonce = os.urandom(12)
    ct = AESGCM(footer_key).encrypt(nonce, pt, aad_prefix + bytes([MODULE_FOOTER]))
    return FOOTER_MAGIC + nonce + ct


def decrypt_footer_manifest(blob: bytes, footer_key: bytes,
                            aad_prefix: bytes = b"") -> list[tuple[str, str]]:
    """Inverse of :func:`encrypt_footer_manifest`. Wrong key, tampered bytes,
    or a data-page blob replayed as a footer all fail GCM authentication."""
    import json

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    if not blob.startswith(FOOTER_MAGIC):
        raise ValueError("not an encrypted-footer manifest (missing PARE magic)")
    body = blob[len(FOOTER_MAGIC):]
    pt = AESGCM(footer_key).decrypt(
        body[:12], body[12:], aad_prefix + bytes([MODULE_FOOTER])
    )
    return [(c, p) for c, p in json.loads(pt)]


def rotate_column_keys(pages: DataFrame, old_keys: dict[str, bytes],
                       new_keys: dict[str, bytes],
                       aad_prefix: bytes = b"") -> DataFrame:
    """Key rotation re-encrypt (KeyToolkit rotateMasterKeys analog): decrypt
    each page blob with its old column key and re-encrypt with the new one —
    page-level only, values are never decoded."""
    return encrypt_pages(decrypt_pages(pages, old_keys, aad_prefix), new_keys, aad_prefix)
