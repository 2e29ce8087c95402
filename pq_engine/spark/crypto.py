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

The page rows are sealed and opened by the Arrow row functions
``pagetable.encrypt`` / ``pagetable.decrypt``; this module runs them under
``mapInArrow`` (each page row on its own, no shuffle) and keeps the
footer-manifest and key-rotation helpers. Encrypt checks each page's CRC
before sealing it, so a corrupt page raises instead of coming back from
decrypt with a fresh CRC.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .. import pagetable
from .rewrite import map_pages


def available() -> bool:
    """True when the AES-GCM backend (`cryptography`, present in this
    environment but gated per the stub-or-import-try rule) can load."""
    try:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # noqa: F401

        return True
    except ImportError:
        return False


MODULE_FOOTER = 0  # ModuleCipherFactory.ModuleType.Footer ordinal

FOOTER_MAGIC = b"PARE1\x00"  # encrypted-footer file magic — the reference
# flips "PAR1" to "PARE" when the footer is encrypted
# (/root/reference/parquet-hadoop/.../ParquetFileWriter.java:110-113,
#  EFMAGIC; ParquetFileReader refuses to read the footer without the key)


def encrypt_pages(pages: DataFrame, keys: dict[str, bytes],
                  aad_prefix: bytes = b"") -> DataFrame:
    """Encrypt every page (data, dict, bloom) of the keyed columns, each
    page row on its own (:func:`pq_engine.pagetable.encrypt` under
    ``mapInArrow``, no shuffle)."""
    for k in keys.values():
        if len(k) not in (16, 24, 32):
            raise ValueError("AES keys must be 16/24/32 bytes")
    return map_pages(pages, lambda t: pagetable.encrypt(t, keys, aad_prefix))


def decrypt_pages(pages: DataFrame, keys: dict[str, bytes],
                  aad_prefix: bytes = b"") -> DataFrame:
    """Inverse of encrypt_pages; GCM tag verification makes every page
    tamper-evident (wrong key, bit flips, or page swaps all raise)."""
    return map_pages(pages, lambda t: pagetable.decrypt(t, keys, aad_prefix))


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
