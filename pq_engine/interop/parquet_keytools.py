"""parquet-mr key tools — local key wrapping + key-material envelopes.

From-scratch implementation of the reference key-management layer
(parquet-hadoop .../crypto/keytools/KeyToolkit.java:292-319
``encryptKeyLocally``/``decryptKeyLocally``,
LocalWrapKmsClient.java:131-148 (AAD = master key ID),
KeyMaterial.java / FileKeyWrapper.java:133-158 double wrapping /
PropertiesDrivenCryptoFactory):

- a random Data Encryption Key (DEK) protects the file; the DEK is
  WRAPPED and stored base64 inside a ``PKMT1`` key-material JSON in
  ``key_metadata`` — the footer's for the footer DEK, each column-key
  chunk's crypto metadata for column DEKs;
- **single wrapping**: the DEK is wrapped directly with a long-lived
  MASTER key (AES-GCM, AAD = the master key's identifier);
- **double wrapping** (the reference default): a per-master-key random
  Key Encryption Key (KEK) wraps each DEK (AAD = the random 16-byte KEK
  id — FileKeyWrapper.java:143), and the KEK itself is wrapped with the
  master key (AAD = master key id); one KMS round-trip amortizes over
  every file/column sharing the master key;
- readers resolve keys from the file alone plus the master keys: parse
  the JSON, unwrap (KEK then) DEK, decrypt;
- **external key material** (HadoopFSKeyMaterialStore): materials in a
  ``_KEY_MATERIAL_FOR_<file>.json`` side file, the parquet file carries
  only keyReference envelopes ("footerKey"/"columnKeyN"); rotation then
  rewrites ONLY the side file (the reference's rotateMasterKeys
  mechanism — our internal-material rotation additionally covers the
  case the reference refuses).

This is byte-compatible with what pyarrow's ``CryptoFactory`` (arrow C++
parquet encryption) produces in both wrap modes when its KmsClient wraps
the same way — test-pinned in BOTH directions: we read pyarrow-encrypted
files with only master keys, and pyarrow reads ours.
"""

from __future__ import annotations

import base64
import json
import os

from .parquet_crypto import (
    MOD_FOOTER,
    _aesgcm,
    _dotted,
    _encrypt_module,
    _module_aad,
    _transcode,
    encrypt_parquet,
    footer_crypto,
    open_footer,
    read_crypto_footer,
)
from .thrift_compact import read_struct

NONCE_LEN = 12
KEK_LEN = 16      # KeyToolkit.KEK_LENGTH_DEFAULT = 128 bits
KEK_ID_LEN = 16   # FileKeyWrapper.KEK_ID_LENGTH


def wrap_key_bytes_aad(key: bytes, wrapping_key: bytes, aad: bytes) -> str:
    """KeyToolkit.encryptKeyLocally core: AES-GCM(key) under
    ``wrapping_key`` with explicit AAD -> base64(nonce | ct | tag)."""
    nonce = os.urandom(NONCE_LEN)
    ct = _aesgcm(wrapping_key).encrypt(nonce, key, aad)
    return base64.b64encode(nonce + ct).decode()


def unwrap_key_bytes_aad(wrapped: str, wrapping_key: bytes,
                         aad: bytes, what: str) -> bytes:
    """KeyToolkit.decryptKeyLocally core (raises ValueError on a wrong
    wrapping key — the GCM tag binds key bytes AND the AAD)."""
    from cryptography.exceptions import InvalidTag

    raw = base64.b64decode(wrapped)
    try:
        return _aesgcm(wrapping_key).decrypt(
            raw[:NONCE_LEN], raw[NONCE_LEN:], aad)
    except InvalidTag as e:
        raise ValueError(
            f"{what} unwrap failed (wrong wrapping key?)") from e


def wrap_key_locally(key: bytes, master_key: bytes,
                     master_key_id: str) -> str:
    """LocalWrapKmsClient.wrapKey: AAD = the master key ID bytes."""
    return wrap_key_bytes_aad(key, master_key, master_key_id.encode())


def unwrap_key_locally(wrapped: str, master_key: bytes,
                       master_key_id: str) -> bytes:
    return unwrap_key_bytes_aad(
        wrapped, master_key, master_key_id.encode(),
        f"DEK unwrap failed for master key {master_key_id!r}; ")


def key_material(master_key_id: str, wrapped_dek: str, is_footer_key: bool,
                 kek_id_b64: str | None = None,
                 wrapped_kek: str | None = None,
                 internal: bool = True,
                 kms_instance_id: str = "DEFAULT",
                 kms_instance_url: str = "DEFAULT") -> bytes:
    """The PKMT1 key-material JSON (KeyMaterial.java field set). With
    ``kek_id_b64``/``wrapped_kek`` the envelope records double wrapping;
    otherwise single. ``internal=False`` omits the internalStorage field
    (externally stored material carries no storage marker — the
    REFERENCE envelope in key_metadata does). KMS instance fields are
    written for FOOTER key material only (KeyMaterial.java writes
    kmsInstanceID/URL on the footer envelope; column envelopes rely on
    the footer's) — and rotation threads the parsed original values
    through so material written by a real-KMS deployment keeps its
    instance info."""
    d = {"keyMaterialType": "PKMT1"}
    if internal:
        d["internalStorage"] = True
    d["isFooterKey"] = is_footer_key
    if is_footer_key:
        d["kmsInstanceID"] = kms_instance_id
        d["kmsInstanceURL"] = kms_instance_url
    d.update({
        "masterKeyID": master_key_id,
        "wrappedDEK": wrapped_dek,
        "doubleWrapping": kek_id_b64 is not None,
    })
    if kek_id_b64 is not None:
        d["keyEncryptionKeyID"] = kek_id_b64
        d["wrappedKEK"] = wrapped_kek
    return json.dumps(d, separators=(",", ":")).encode()


def key_metadata_reference(key_id_in_file: str) -> bytes:
    """KeyMetadata.createSerializedForExternalMaterial: the envelope
    stored in the parquet file when material lives in the side file."""
    return json.dumps({
        "keyMaterialType": "PKMT1",
        "internalStorage": False,
        "keyReference": key_id_in_file,
    }, separators=(",", ":")).encode()


def parse_key_material(km: bytes) -> dict:
    d = json.loads(km)
    if d.get("keyMaterialType") != "PKMT1":
        raise ValueError(
            f"unsupported key material type {d.get('keyMaterialType')!r}")
    return d


def _unwrap_material_dict(d: dict, master_keys: dict[str, bytes],
                          kek_cache: dict | None = None) -> bytes:
    mid = d["masterKeyID"]
    if mid not in master_keys:
        raise ValueError(f"unknown master key id {mid!r}")
    if not d.get("doubleWrapping"):
        return unwrap_key_locally(d["wrappedDEK"], master_keys[mid], mid)
    kek_id_b64 = d["keyEncryptionKeyID"]
    cache_key = (mid, kek_id_b64)
    if kek_cache is not None and cache_key in kek_cache:
        kek = kek_cache[cache_key]
    else:
        kek = unwrap_key_bytes_aad(
            d["wrappedKEK"], master_keys[mid], mid.encode(),
            f"KEK unwrap failed for master key {mid!r}; ")
        if kek_cache is not None:
            kek_cache[cache_key] = kek
    return unwrap_key_bytes_aad(
        d["wrappedDEK"], kek, base64.b64decode(kek_id_b64),
        "DEK unwrap failed under KEK; ")


def unwrap_from_material(km: bytes, master_keys: dict[str, bytes],
                         kek_cache: dict | None = None,
                         material_store: dict[str, str] | None = None
                         ) -> bytes:
    """Resolve one DEK from its key material + the master keys. For
    double-wrapped material the KEK is unwrapped once per
    (masterKeyID, kekID) and cached (KeyToolkit's KEK_READ_CACHE analog —
    pass a shared dict to amortize across a file's columns). An
    external-reference envelope (internalStorage false) is resolved
    through ``material_store`` — the parsed side file
    (FileKeyUnwrapper.java:104)."""
    d = parse_key_material(km)
    if not d.get("internalStorage", True) and "wrappedDEK" not in d:
        ref = d.get("keyReference")
        if material_store is None:
            raise ValueError(
                "external key material: pass the key-material store "
                "(the _KEY_MATERIAL_FOR_<file>.json side file)")
        if ref not in material_store:
            raise ValueError(
                f"key reference {ref!r} not in the key-material store")
        d = parse_key_material(material_store[ref].encode())
    return _unwrap_material_dict(d, master_keys, kek_cache)


class _KekPerMaster:
    """FileKeyWrapper.KEKPerMasterKeyID: one fresh KEK per master key per
    encryption run, wrapped once with the master key."""

    def __init__(self, master_keys: dict[str, bytes]):
        self.master_keys = master_keys
        self._keks: dict[str, tuple[bytes, bytes, str]] = {}

    def get(self, mid: str) -> tuple[bytes, bytes, str]:
        if mid not in self._keks:
            kek = os.urandom(KEK_LEN)
            kek_id = os.urandom(KEK_ID_LEN)
            wrapped = wrap_key_locally(kek, self.master_keys[mid], mid)
            self._keks[mid] = (kek, kek_id, wrapped)
        return self._keks[mid]


def encrypt_parquet_keytools(
        plain: bytes, master_keys: dict[str, bytes],
        footer_master_id: str,
        column_master_ids: dict[str, str] | None = None,
        aad_mode: str = "spec",
        double_wrapping: bool = True,
        algorithm: str = "AES_GCM_V1",
        material_store: dict[str, str] | None = None,
        aad_prefix: bytes = b"",
        supply_aad_prefix: bool = False,
        plaintext_footer_mode: bool = False) -> bytes:
    """Encrypt with freshly generated DEKs wrapped under master keys —
    the PropertiesDrivenCryptoFactory write path. ``column_master_ids``
    maps dotted column paths to master key ids; other columns use the
    footer DEK. ``double_wrapping`` (reference default) inserts the KEK
    layer. The output is readable by pyarrow's CryptoFactory (and by
    :func:`resolve_file_keys` + the native reader) with master keys only.

    With ``material_store`` (a mutable dict) the key material goes into
    the store under "footerKey"/"columnKeyN" ids and the file carries
    only REFERENCES (FileKeyWrapper.java:168-178 external storage);
    persist the store next to the file with
    :func:`write_key_material_store`."""
    column_master_ids = column_master_ids or {}
    keks = _KekPerMaster(master_keys)
    counter = [0]

    def material(mid: str, dek: bytes, is_footer: bool) -> bytes:
        internal = material_store is None
        if not double_wrapping:
            km = key_material(
                mid, wrap_key_locally(dek, master_keys[mid], mid),
                is_footer, internal=internal)
        else:
            kek, kek_id, wrapped_kek = keks.get(mid)
            km = key_material(
                mid, wrap_key_bytes_aad(dek, kek, kek_id), is_footer,
                kek_id_b64=base64.b64encode(kek_id).decode(),
                wrapped_kek=wrapped_kek, internal=internal)
        if internal:
            return km
        if is_footer:
            ref = "footerKey"  # KeyMaterial.FOOTER_KEY_ID_IN_FILE
        else:
            counter[0] += 1
            ref = f"columnKey{counter[0]}"
        material_store[ref] = km.decode()
        return key_metadata_reference(ref)

    footer_dek = os.urandom(16)
    footer_km = material(footer_master_id, footer_dek, True)
    column_keys: dict[str, bytes] = {}
    column_km: dict[str, bytes] = {}
    for path, mid in column_master_ids.items():
        dek = os.urandom(16)
        column_keys[path] = dek
        column_km[path] = material(mid, dek, False)
    if plaintext_footer_mode:
        from .parquet_crypto import encrypt_parquet_plaintext_footer

        if aad_prefix or supply_aad_prefix:
            raise ValueError(
                "aad_prefix is encrypted-footer-only in this writer")
        return encrypt_parquet_plaintext_footer(
            plain, footer_dek, column_keys, aad_mode=aad_mode,
            footer_key_metadata=footer_km,
            column_key_metadata=column_km, algorithm=algorithm)
    return encrypt_parquet(
        plain, footer_dek, column_keys=column_keys, aad_mode=aad_mode,
        key_metadata=footer_km, column_key_metadata=column_km,
        algorithm=algorithm, aad_prefix=aad_prefix,
        supply_aad_prefix=supply_aad_prefix)


# ------------------------------------------------ external material store

def key_material_store_path(parquet_path: str, temp: bool = False) -> str:
    """HadoopFSKeyMaterialStore naming: ``_KEY_MATERIAL_FOR_<name>.json``
    next to the parquet file (``_TMP`` prefix for the rotation temp)."""
    d, name = os.path.split(parquet_path)
    prefix = ("_TMP" if temp else "") + "_KEY_MATERIAL_FOR_"
    return os.path.join(d, prefix + name + ".json")


def write_key_material_store(parquet_path: str,
                             store: dict[str, str]) -> str:
    """Persist the side file atomically (temp write + rename — the
    HadoopFSKeyMaterialStore saveMaterial/moveMaterialTo contract)."""
    tmp = key_material_store_path(parquet_path, temp=True)
    final = key_material_store_path(parquet_path)
    with open(tmp, "w") as f:
        json.dump(store, f, separators=(",", ":"))
    os.replace(tmp, final)
    return final


def read_key_material_store(parquet_path: str) -> dict[str, str]:
    with open(key_material_store_path(parquet_path)) as f:
        return json.load(f)


def rotate_key_material_store(parquet_path: str,
                              old_masters: dict[str, bytes],
                              new_masters: dict[str, bytes],
                              double_wrapping: bool = True) -> None:
    """The REFERENCE rotation (KeyToolkit.rotateMasterKeys:200-260,
    external material only): unwrap every DEK in the side file with the
    old masters, re-wrap under the new master bytes (fresh KEKs), write
    the temp store, rename over the original. The parquet file itself is
    NOT touched — not even its footer (contrast
    :func:`rotate_master_keys`, which rewrites the tail of
    internal-material files)."""
    store = read_key_material_store(parquet_path)
    kek_cache: dict = {}
    keks = _KekPerMaster(new_masters)
    new_store: dict[str, str] = {}
    for ref, km_str in store.items():
        d = parse_key_material(km_str.encode())
        mid = d["masterKeyID"]
        if mid not in new_masters:
            raise ValueError(f"no new master key for id {mid!r}")
        dek = _unwrap_material_dict(d, old_masters, kek_cache)
        is_footer = bool(d.get("isFooterKey"))
        kms_kw = {
            "kms_instance_id": d.get("kmsInstanceID", "DEFAULT"),
            "kms_instance_url": d.get("kmsInstanceURL", "DEFAULT"),
        }
        if not double_wrapping:
            km = key_material(
                mid, wrap_key_locally(dek, new_masters[mid], mid),
                is_footer, internal=False, **kms_kw)
        else:
            kek, kek_id, wrapped_kek = keks.get(mid)
            km = key_material(
                mid, wrap_key_bytes_aad(dek, kek, kek_id), is_footer,
                kek_id_b64=base64.b64encode(kek_id).decode(),
                wrapped_kek=wrapped_kek, internal=False, **kms_kw)
        new_store[ref] = km.decode()
    write_key_material_store(parquet_path, new_store)


def rotate_master_keys(buf: bytes, old_masters: dict[str, bytes],
                       new_masters: dict[str, bytes],
                       double_wrapping: bool = True,
                       aad_prefix: bytes = b"") -> bytes:
    """Re-wrap every DEK in an encrypted-footer file under NEW master key
    bytes (same key ids — the key-version rotation of
    KeyToolkit.rotateMasterKeys, KeyToolkit.java:150-214). The reference
    refuses rotation for internal key material (it can only rewrite
    external _KEY_MATERIAL files); we CAN rotate internal storage because
    the thrift transcoder rewrites the key-material envelopes in place:

    - the footer envelope lives in plaintext FileCryptoMetaData;
    - column envelopes live inside the ENCRYPTED footer, so the footer
      module is decrypted, its crypto_metadata key_metadata binaries
      replaced, and the module re-encrypted with the SAME footer DEK and
      the SAME module AAD.

    DEKs never change, so NOT ONE DATA BYTE is touched — only the file
    tail (FileCryptoMetaData + footer module) is rewritten; after
    rotation the old master keys fail at unwrap (GCM-bound) and the new
    ones read the file exactly as before. Fresh KEKs are generated for
    double wrapping."""
    import struct as _struct

    kek_cache: dict = {}
    info = read_crypto_footer(buf)
    if info["key_metadata"] is None:
        raise ValueError("file carries no key metadata to rotate")
    footer_dek = unwrap_from_material(
        info["key_metadata"], old_masters, kek_cache)
    fbytes, file_aad, _ = open_footer(buf, footer_dek, aad_prefix, info)

    keks = _KekPerMaster(new_masters)

    def rewrap(km: bytes, is_footer: bool) -> bytes:
        d = parse_key_material(km)
        if not d.get("internalStorage", True):
            raise ValueError(
                "file uses EXTERNAL key material — rotate the side file "
                "with rotate_key_material_store instead")
        mid = d["masterKeyID"]
        if mid not in new_masters:
            raise ValueError(f"no new master key for id {mid!r}")
        dek = unwrap_from_material(km, old_masters, kek_cache)
        kms_kw = {
            "kms_instance_id": d.get("kmsInstanceID", "DEFAULT"),
            "kms_instance_url": d.get("kmsInstanceURL", "DEFAULT"),
        }
        if not double_wrapping:
            return key_material(
                mid, wrap_key_locally(dek, new_masters[mid], mid), is_footer,
                **kms_kw)
        kek, kek_id, wrapped_kek = keks.get(mid)
        return key_material(
            mid, wrap_key_bytes_aad(dek, kek, kek_id), is_footer,
            kek_id_b64=base64.b64encode(kek_id).decode(),
            wrapped_kek=wrapped_kek, **kms_kw)

    # column envelopes: ColumnChunk(4=row_groups,rg,1=columns,col).
    # crypto_metadata(8) -> union ENCRYPTION_WITH_COLUMN_KEY(2) ->
    # key_metadata(2)
    def visit(path, v):
        if (len(path) == 7 and path[0] == 4 and path[2] == 1
                and path[4:] == (8, 2, 2)):
            return rewrap(v, False)
        return None

    new_fbytes, _ = _transcode(fbytes, 0, visit)
    new_mod = _encrypt_module(
        footer_dek, new_fbytes, _module_aad(file_aad, MOD_FOOTER))

    # FileCryptoMetaData.key_metadata is field 2 at the top level
    clen = _struct.unpack_from("<I", buf, len(buf) - 8)[0]
    area_start = len(buf) - 8 - clen
    fcmd_bytes = buf[area_start:info["footer_module_start"]]
    new_footer_km = rewrap(info["key_metadata"], True)
    new_fcmd, _ = _transcode(
        fcmd_bytes, 0,
        lambda p, v: new_footer_km if p == (2,) else None)

    return (buf[:area_start] + new_fcmd + new_mod
            + _struct.pack("<I", len(new_fcmd) + len(new_mod))
            + buf[len(buf) - 4:])


def resolve_file_keys(buf: bytes, master_keys: dict[str, bytes],
                      aad_prefix: bytes = b"",
                      material_store: dict[str, str] | None = None
                      ) -> tuple[bytes, dict]:
    """Resolve (footer_key, column_keys) for an encrypted-footer file from
    its own key-material metadata plus the MASTER keys — the read half of
    the key tools (FileKeyUnwrapper.getKey). Works on pyarrow/
    CryptoFactory files and ours, single- or double-wrapped; feed the
    result straight to read_parquet_filtered or decrypt_parquet. For
    external-material files pass the parsed side file as
    ``material_store``. Plaintext-footer files (PAR1 magic,
    footer_signing_key_metadata in FileMetaData field 9) resolve too —
    the footer key there is the SIGNING key, checked against the footer
    signature. Files written with a caller-supplied ``aad_prefix`` need
    it here as well."""
    kek_cache: dict = {}
    info = footer_crypto(buf)
    if info["key_metadata"] is None:
        raise ValueError("file carries no key metadata (raw-DEK file?)")
    footer_key = unwrap_from_material(
        info["key_metadata"], master_keys, kek_cache, material_store)
    fbytes, _, _ = open_footer(buf, footer_key, aad_prefix, info)
    fmeta, _ = read_struct(fbytes)
    column_keys: dict[str, bytes] = {}
    for rg in fmeta.get(4, []):
        for cc in rg.get(1, []):
            crypto = cc.get(8)
            if crypto is None or 2 not in crypto:
                continue
            path = _dotted(crypto[2].get(1, []))
            km = crypto[2].get(2)
            if path in column_keys or km is None:
                continue
            column_keys[path] = unwrap_from_material(
                km, master_keys, kek_cache, material_store)
    return footer_key, column_keys
