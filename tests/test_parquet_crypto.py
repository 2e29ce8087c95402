"""Parquet modular-encryption tests (r6): encrypted-footer PARE files,
AES-GCM modules, AAD binding, column keys, DuckDB interop both directions.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pq_engine.interop.parquet_crypto import (
    _module_aad,
    _transcode,
    decrypt_parquet,
    encrypt_parquet,
    is_encrypted,
    read_crypto_footer,
)
from pq_engine.interop.parquet_reader import read_footer, read_parquet_pandas
from pq_engine.interop.parquet_writer import write_parquet
from pq_engine.kernels.ragged import RaggedBytes

FK = b"0123456789012345"
CK = b"abcdefghijklmnop"


def _ragged(strs):
    offs = np.zeros(len(strs) + 1, np.int64)
    for i, s in enumerate(strs):
        offs[i + 1] = offs[i] + len(s)
    return RaggedBytes(offs, np.frombuffer(b"".join(strs), np.uint8))


def _plain_file(tmp_path, n=400, compression="zstd", page_version=1):
    path = str(tmp_path / "plain.parquet")
    validity = (np.arange(n) % 7) != 0
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "name", "ptype": "string", "codec": "dict",
         "values": _ragged([f"tag-{i % 5}".encode() for i in range(n)])},
        {"name": "score", "ptype": "float64", "codec": "plain",
         "values": (np.arange(n) * 0.25)[validity], "validity": validity},
    ], n, compression=compression, page_version=page_version)
    return open(path, "rb").read()


def _check(df, n=400):
    assert list(df["id"]) == list(range(n))
    assert df["name"][7] == "tag-2"
    assert np.isnan(df["score"][0])  # float nulls surface as NaN
    assert df["score"][8] == pytest.approx(2.0)


@pytest.mark.parametrize("aad_mode", ["spec", "empty"])
@pytest.mark.parametrize("page_version", [1, 2])
def test_roundtrip_modes(tmp_path, aad_mode, page_version):
    plain = _plain_file(tmp_path, page_version=page_version)
    enc = encrypt_parquet(plain, FK, aad_mode=aad_mode)
    assert is_encrypted(enc) and enc[:4] == b"PARE" and enc[-4:] == b"PARE"
    assert not is_encrypted(plain)
    _check(read_parquet_pandas(decrypt_parquet(enc, FK)))
    # dictionary page offsets survive the offset rewrite
    foot = read_footer(decrypt_parquet(enc, FK))
    assert foot["num_rows"] == 400


def test_column_keys_and_crypto_metadata(tmp_path):
    plain = _plain_file(tmp_path)
    enc = encrypt_parquet(plain, FK, column_keys={"name": CK}, aad_mode="spec")
    with pytest.raises(ValueError, match="column key"):
        decrypt_parquet(enc, FK)
    _check(read_parquet_pandas(
        decrypt_parquet(enc, FK, column_keys={"name": CK})))
    # wrong column key -> tag failure
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(enc, FK, column_keys={"name": FK})


def test_column_key_for_absent_column_refuses(tmp_path):
    """A column_keys path that names no column refuses in every writer
    entry point. Ignoring it would write the column the caller meant to
    protect under the footer key, readable with the footer key alone."""
    from pq_engine.cli import main
    from pq_engine.interop.parquet_keytools import encrypt_parquet_keytools

    plain = _plain_file(tmp_path)
    with pytest.raises(ValueError, match=r"absent columns: \['nmae'\]"):
        encrypt_parquet(plain, FK, column_keys={"name": CK, "nmae": CK})
    with pytest.raises(ValueError, match="absent columns"):
        encrypt_parquet_keytools(plain, {"kf": FK, "kc": CK}, "kf",
                                 {"nmae": "kc"})
    with pytest.raises(ValueError, match="absent columns"):
        main(["encrypt-parquet", str(tmp_path / "plain.parquet"),
              "--out", str(tmp_path / "enc.pare"), "--key", FK.hex(),
              "--column-key", f"nmae={CK.hex()}"])


def test_wrong_footer_key_and_tamper(tmp_path):
    plain = _plain_file(tmp_path)
    enc = encrypt_parquet(plain, FK, aad_mode="empty")
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(enc, CK)
    # flip one ciphertext byte in the first page module
    bad = bytearray(enc)
    bad[30] ^= 0xFF
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(bytes(bad), FK)


@pytest.mark.parametrize("aad_mode", ["spec", "empty"])
def test_gcm_ctr_mode_roundtrip_and_native_scan(tmp_path, aad_mode):
    """AES_GCM_CTR_V1 (EncryptionAlgorithm union field 2,
    AesCtrEncryptor.java): page BODIES become unauthenticated AES-CTR
    modules (4-byte len | 12-byte nonce | ct, IV = nonce||be32 counter
    from 1) while headers/footer/blooms/indexes stay GCM. Round-trip,
    column keys, and the native filtered scan all work; the footer
    advertises the algorithm."""
    from pq_engine.interop.parquet_crypto import read_crypto_footer
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain = _plain_file(tmp_path)
    enc = encrypt_parquet(plain, FK, column_keys={"name": CK},
                          aad_mode=aad_mode, algorithm="AES_GCM_CTR_V1")
    assert read_crypto_footer(enc)["algorithm"] == "AES_GCM_CTR_V1"
    _check(read_parquet_pandas(
        decrypt_parquet(enc, FK, column_keys={"name": CK})))
    df, rep = read_parquet_filtered_pandas(
        enc, ("lt", "id", 10), footer_key=FK, column_keys={"name": CK})
    assert list(df["id"]) == list(range(10))
    # each CTR page body is 16 bytes shorter than its GCM twin (no tag):
    # 4 page bodies here (id, name dict+data, score); header varints may
    # shrink a couple more bytes since compressed_page_size got smaller
    enc_gcm = encrypt_parquet(plain, FK, column_keys={"name": CK},
                              aad_mode=aad_mode)
    diff = len(enc_gcm) - len(enc)
    assert 16 * 4 <= diff <= 16 * 4 + 8, diff


def test_gcm_ctr_integrity_tradeoff(tmp_path):
    """The mode's documented contract: CTR page bodies carry NO GCM tag,
    so decryption itself accepts a flipped body byte — but the page CRC
    inside the GCM-protected header (r6 writer emission) catches the
    corruption at decode time. Note the remaining caveat: CRC32 is
    LINEAR, so a known-plaintext adversary can craft compensating flips —
    it is corruption detection, not authentication; GCM mode is the
    authenticated choice. The footer stays GCM-signed either way."""
    n = 400
    path = str(tmp_path / "p.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
    ], n)  # uncompressed PLAIN so a body flip stays decodable
    plain = open(path, "rb").read()
    enc = encrypt_parquet(plain, FK, aad_mode="spec",
                          algorithm="AES_GCM_CTR_V1")
    # locate the first page BODY module: skip the header module at 4
    hdr_len = struct.unpack_from("<I", enc, 4)[0]
    body_start = 4 + 4 + hdr_len
    bad = bytearray(enc)
    bad[body_start + 4 + 12 + 8] ^= 0xFF  # 2nd int64 of the body
    dec = decrypt_parquet(bytes(bad), FK)  # CTR decrypt cannot object...
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        read_parquet_pandas(dec)  # ...the page CRC does
    # footer stays GCM-authenticated: flipping its ciphertext raises
    bad2 = bytearray(enc)
    bad2[-30] ^= 0xFF
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(bytes(bad2), FK)


def test_write_parquet_integrated_encryption(tmp_path):
    """write_parquet(encryption=...): the file is encrypted in ONE disk
    write (integrated ParquetFileWriter behavior — no plaintext ever
    touches the disk, no transform double-pass). Output is identical in
    capability to the transform path: native filtered scan with pruning
    and DuckDB-readable after decrypt."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 2000
    path = str(tmp_path / "direct.pare")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "name", "ptype": "string", "codec": "dict",
         "values": _ragged([f"tag-{i % 5}".encode() for i in range(n)])},
    ], n, compression="zstd", row_group_size=500,
        encryption={"footer_key": FK, "column_keys": {"name": CK},
                    "aad_mode": "spec"})
    buf = open(path, "rb").read()
    assert buf[:4] == b"PARE" and b"PAR1" not in buf[:64]
    df, rep = read_parquet_filtered_pandas(
        path, ("and", ("ge", "id", 600), ("lt", "id", 700)),
        footer_key=FK, column_keys={"name": CK})
    assert list(df["id"]) == list(range(600, 700))
    assert rep["row_groups_scanned"] < rep["row_groups_total"]
    df2 = read_parquet_pandas(decrypt_parquet(buf, FK,
                                              column_keys={"name": CK}))
    assert len(df2) == n and df2["name"][7] == "tag-2"


@pytest.mark.parametrize("algo", ["AES_GCM_V1", "AES_GCM_CTR_V1"])
def test_decrypt_plaintext_footer_file(tmp_path, algo):
    """decrypt_parquet on a PLAINTEXT-FOOTER file: signature verified,
    encrypted columns decrypted, REDACTED ColumnMetaData restored from
    encrypted_column_metadata (statistics back in the footer), encryption
    fields stripped — the output is an ordinary plaintext file DuckDB and
    pyarrow read with full stats."""
    duckdb = pytest.importorskip("duckdb")
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_crypto import (
        encrypt_parquet_plaintext_footer,
    )

    plain = _plain_file(tmp_path)
    enc = encrypt_parquet_plaintext_footer(
        plain, FK, {"name": CK}, aad_mode="spec", algorithm=algo)
    # wrong footer key fails the signature, wrong column key the modules
    with pytest.raises(ValueError, match="signature"):
        decrypt_parquet(enc, CK, column_keys={"name": CK})
    dec = decrypt_parquet(enc, FK, column_keys={"name": CK})
    assert dec[:4] == b"PAR1"
    _check(read_parquet_pandas(dec))
    p = str(tmp_path / "dec.parquet")
    open(p, "wb").write(dec)
    con = duckdb.connect()
    assert con.sql(f"SELECT count(*) FROM read_parquet('{p}')"
                   ).fetchone()[0] == 400
    con.close()
    md = papq.ParquetFile(p).metadata
    cols = {md.row_group(0).column(i).path_in_schema:
            md.row_group(0).column(i) for i in range(md.num_columns)}
    # restored statistics visible to pyarrow on the formerly-redacted col
    assert cols["name"].statistics is not None
    assert cols["name"].statistics.min == "tag-0"
    # no crypto metadata survives in the plaintext output
    foot = read_footer(dec)
    assert foot.get("encryption_algorithm") is None


def test_aad_prefix_stored_and_supplied(tmp_path):
    """FileEncryptionProperties.withAADPrefix: the prefix binds the
    ciphertext to a caller identity (e.g. the file name). Stored mode:
    readers need nothing extra. Supplied mode: only a flag is stored and
    a reader with the WRONG prefix (a renamed/swapped file) fails at the
    first module."""
    from pq_engine.interop.parquet_crypto import read_crypto_footer
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain = _plain_file(tmp_path)
    # stored: footer carries the prefix, decrypt needs no out-of-band data
    enc = encrypt_parquet(plain, FK, aad_mode="spec",
                          aad_prefix=b"warehouse/a.parquet")
    info = read_crypto_footer(enc)
    assert info["aad_prefix"] == b"warehouse/a.parquet"
    assert not info["supply_aad_prefix"]
    _check(read_parquet_pandas(decrypt_parquet(enc, FK)))

    # supplied: flag only; right prefix reads, wrong prefix fails, none
    # refuses by name
    enc2 = encrypt_parquet(plain, FK, aad_mode="spec",
                           aad_prefix=b"warehouse/a.parquet",
                           supply_aad_prefix=True)
    info2 = read_crypto_footer(enc2)
    assert info2["aad_prefix"] == b"" and info2["supply_aad_prefix"]
    _check(read_parquet_pandas(decrypt_parquet(
        enc2, FK, aad_prefix=b"warehouse/a.parquet")))
    df, _ = read_parquet_filtered_pandas(
        enc2, ("lt", "id", 5), footer_key=FK,
        aad_prefix=b"warehouse/a.parquet")
    assert len(df) == 5
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(enc2, FK, aad_prefix=b"warehouse/b.parquet")
    with pytest.raises(ValueError, match="aad_prefix"):
        decrypt_parquet(enc2, FK)
    # misuse refusals
    with pytest.raises(ValueError, match="aad_prefix"):
        encrypt_parquet(plain, FK, aad_mode="empty", aad_prefix=b"x")
    with pytest.raises(ValueError, match="supply_aad_prefix"):
        encrypt_parquet(plain, FK, aad_mode="spec", supply_aad_prefix=True)


def test_spec_aad_binds_module_position(tmp_path):
    """Swapping two encrypted page modules must fail in spec mode: the AAD
    suffix carries ordinals, so a module cannot be replayed elsewhere."""
    n = 300
    path = str(tmp_path / "two.parquet")
    write_parquet(path, [
        {"name": "a", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "b", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64) * 2},
    ], n)
    plain = open(path, "rb").read()
    enc = encrypt_parquet(plain, FK, aad_mode="spec")
    # locate the first two modules (both columns, header module each)
    pos = 4
    spans = []
    for _ in range(4):  # a: header, body; b: header, body
        (ln,) = struct.unpack_from("<I", enc, pos)
        spans.append((pos, pos + 4 + ln))
        pos += 4 + ln
    bad = bytearray(enc)
    # swap column a's page body (module 1) with column b's page body (3)
    m1, m3 = enc[spans[1][0]:spans[1][1]], enc[spans[3][0]:spans[3][1]]
    assert len(m1) == len(m3)
    bad[spans[1][0]:spans[1][1]] = m3
    bad[spans[3][0]:spans[3][1]] = m1
    with pytest.raises(ValueError, match="decryption failed"):
        decrypt_parquet(bytes(bad), FK)
    # same swap in empty-AAD mode is NOT detected by AAD (documented
    # DuckDB-compat limitation): DECRYPTION succeeds — but the page CRC
    # riding inside each GCM-protected header (r6: the writer emits
    # PageHeader.crc) catches the misplaced body at decode time
    enc2 = encrypt_parquet(plain, FK, aad_mode="empty")
    pos = 4
    spans = []
    for _ in range(4):
        (ln,) = struct.unpack_from("<I", enc2, pos)
        spans.append((pos, pos + 4 + ln))
        pos += 4 + ln
    bad2 = bytearray(enc2)
    m1, m3 = enc2[spans[1][0]:spans[1][1]], enc2[spans[3][0]:spans[3][1]]
    bad2[spans[1][0]:spans[1][1]] = m3
    bad2[spans[3][0]:spans[3][1]] = m1
    dec2 = decrypt_parquet(bytes(bad2), FK)  # AAD does not object...
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        read_parquet_pandas(dec2)  # ...the page CRC does


def test_crypto_footer_parsing_and_errors(tmp_path):
    plain = _plain_file(tmp_path)
    enc = encrypt_parquet(plain, FK, aad_mode="spec", key_metadata=b"k1")
    info = read_crypto_footer(enc)
    assert len(info["aad_file_unique"]) == 8
    assert info["key_metadata"] == b"k1"
    with pytest.raises(ValueError, match="PARE"):
        read_crypto_footer(plain)
    with pytest.raises(ValueError, match="plaintext parquet"):
        encrypt_parquet(enc, FK)  # double-encrypt refused
    with pytest.raises(ValueError, match="aad_mode"):
        encrypt_parquet(plain, FK, aad_mode="bogus")
    with pytest.raises(ValueError, match="AES key"):
        encrypt_parquet(plain, b"short")


def test_transcoder_identity(tmp_path):
    """No-op visitor must re-emit the footer byte-for-byte — the fidelity
    contract that makes offset patching safe for unknown fields."""
    plain = _plain_file(tmp_path)
    flen = int.from_bytes(plain[-8:-4], "little")
    fbytes = plain[len(plain) - 8 - flen : len(plain) - 8]
    out, end = _transcode(fbytes, 0, lambda p, v: None)
    assert out == fbytes and end == flen
    # pyarrow-written footer too (different writer, richer fields)
    import pyarrow as pa
    import pyarrow.parquet as papq

    p2 = str(tmp_path / "pa.parquet")
    papq.write_table(pa.table({"x": [1, 2], "y": ["a", None]}), p2)
    buf = open(p2, "rb").read()
    flen = int.from_bytes(buf[-8:-4], "little")
    fbytes = buf[len(buf) - 8 - flen : len(buf) - 8]
    out, _ = _transcode(fbytes, 0, lambda p, v: None)
    assert out == fbytes


def test_crypto_carries_page_index_and_blooms(tmp_path):
    """r6: ColumnIndex/OffsetIndex and bloom filters ride through the
    encrypt->decrypt round-trip as their own AES-GCM modules (spec module
    types 6/7/8/9, EncryptionAlgorithm.md 'Protection of auxiliary
    structures'): the decrypted file page-prunes AND bloom-prunes exactly
    like the plaintext original. OffsetIndex page locations are rewritten
    against each layout (parquet-mr serializeOffsetIndexes analog); the
    ColumnIndex, holding no file offsets, is carried verbatim."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 4000
    tags = [(f"aa{i // 1000}" if i % 2 == 0 else f"zz{i // 1000}").encode()
            for i in range(n)]
    path = str(tmp_path / "aux.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": _ragged(tags)},
    ], n, row_group_size=1000, data_page_rows=100,
        bloom_columns=["tag", "id"], compression="zstd")

    pred = ("and", ("ge", "id", 2500), ("lt", "id", 2600))
    df0, rep0 = read_parquet_filtered_pandas(path, pred)
    assert rep0["pages_scanned"] < rep0["pages_total"]

    enc = encrypt_parquet(open(path, "rb").read(), FK, aad_mode="spec",
                          column_keys={"tag": CK})
    dec = decrypt_parquet(enc, FK, column_keys={"tag": CK})
    df1, rep1 = read_parquet_filtered_pandas(dec, pred)
    assert list(df1["id"]) == list(df0["id"]) == list(range(2500, 2600))
    assert rep1 == rep0  # identical page-level pruning post-round-trip

    # bloom survives too (under the COLUMN key): eq on an in-range but
    # absent tag is disproved by the carried bitset
    dfb, repb = read_parquet_filtered_pandas(dec, ("eq", "tag", "qq9"))
    assert len(dfb) == 0 and repb["row_groups_bloom_pruned"] == 4

    # pyarrow-written page index (different writer, first_row_index field,
    # per-page stats) carries through the same transform
    import pyarrow as pa
    import pyarrow.parquet as papq

    p2 = str(tmp_path / "pa_idx.parquet")
    papq.write_table(
        pa.table({"x": np.arange(20000, dtype=np.int64),
                  "s": [f"s{i % 13}" for i in range(20000)]}),
        p2, write_page_index=True, data_page_size=4096,
        use_dictionary=False, row_group_size=20000)
    dfa, repa = read_parquet_filtered_pandas(p2, ("eq", "x", 17))
    assert repa["pages_scanned"] < repa["pages_total"]
    dec2 = decrypt_parquet(encrypt_parquet(open(p2, "rb").read(), FK), FK)
    dfa2, repa2 = read_parquet_filtered_pandas(dec2, ("eq", "x", 17))
    assert list(dfa2["x"]) == list(dfa["x"]) == [17]
    assert repa2 == repa


def test_native_encrypted_filtered_scan(tmp_path):
    """r6: the filtered reader scans a PARE file NATIVELY (footer_key
    passed straight to read_parquet_filtered) — the ParquetFileReader +
    InternalFileDecryptor path. Pruning runs BEFORE decryption: only the
    footer plus the surviving dictionary/bloom/index/page modules are
    decrypted, proven by modules_decrypted << modules_total in the
    report. Results and prune counters match the plaintext original."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 4000
    tags = [(f"aa{i // 1000}" if i % 2 == 0 else f"zz{i // 1000}").encode()
            for i in range(n)]
    path = str(tmp_path / "nat.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": _ragged(tags)},
        {"name": "score", "ptype": "float64", "codec": "plain",
         "values": np.arange(n) * 0.25},
    ], n, row_group_size=1000, data_page_rows=100,
        bloom_columns=["tag"], compression="zstd")
    enc = encrypt_parquet(open(path, "rb").read(), FK, aad_mode="spec",
                          column_keys={"tag": CK})

    pred = ("and", ("ge", "id", 2500), ("lt", "id", 2600))
    df0, rep0 = read_parquet_filtered_pandas(path, pred)
    df1, rep1 = read_parquet_filtered_pandas(
        enc, pred, footer_key=FK, column_keys={"tag": CK})
    assert list(df1["id"]) == list(df0["id"]) == list(range(2500, 2600))
    assert list(df1["tag"]) == list(df0["tag"])
    assert list(df1["score"]) == list(df0["score"])
    # identical page-level pruning, and only a sliver of ciphertext touched
    assert {k: rep1[k] for k in rep0} == rep0
    # 3 row groups stats-pruned; survivor: 3 cols x (1 page hdr+body) + 3
    # OffsetIndexes + pred-col ColumnIndexes + footer — far under total
    assert rep1["modules_decrypted"] < rep1["modules_total"] // 10

    # bloom disproof path decrypts ONLY footer + bloom modules (no pages)
    dfb, repb = read_parquet_filtered_pandas(
        enc, ("eq", "tag", "qq9"), footer_key=FK, column_keys={"tag": CK})
    assert len(dfb) == 0 and repb["row_groups_bloom_pruned"] == 4
    assert repb["pages_scanned"] == 0
    # footer + 4 blooms (hdr+bitset) + 4 encrypted_column_metadata (the
    # column-key chunks' redacted footer copies, one per row group)
    assert repb["modules_decrypted"] == 1 + 2 * 4 + 4

    # missing column key refuses by name
    with pytest.raises(ValueError, match="column key"):
        read_parquet_filtered_pandas(enc, pred, footer_key=FK)

    # a DuckDB-ENCRYPTED file scans natively too (empty AAD, its scheme):
    # stats prune the out-of-range groups without decrypting their pages
    duckdb = pytest.importorskip("duckdb")
    dpath = str(tmp_path / "duck_enc.parquet")
    con = duckdb.connect()
    con.execute(f"PRAGMA add_parquet_key('k1', '{FK.decode()}')")
    con.execute(
        "COPY (SELECT i AS id, CAST(i AS DOUBLE) / 4 AS d FROM range(40000) "
        "t(i) ORDER BY i) TO '" + dpath +
        "' (ENCRYPTION_CONFIG {footer_key: 'k1'}, ROW_GROUP_SIZE 10000)")
    dfd, repd = read_parquet_filtered_pandas(
        dpath, ("eq", "id", 25000), footer_key=FK)
    assert list(dfd["id"]) == [25000]
    assert repd["row_groups_scanned"] == 1 < repd["row_groups_total"]
    assert repd["modules_decrypted"] < repd["modules_total"]


def test_plaintext_footer_mode(tmp_path):
    """r6: PLAINTEXT-FOOTER encryption (Encryption.md plaintext footer
    mode — the other spec mode, previously a declared gap): PAR1 magic,
    plaintext FileMetaData with encryption_algorithm set and a 28-byte
    GCM footer signature, column-key-encrypted columns whose footer
    ColumnMetaData is REDACTED (stats stripped) with the full metadata in
    encrypted_column_metadata. Legacy readers read the plaintext columns
    (DuckDB does, in this test); key holders get everything back including
    restored stats/bloom pruning; the signature catches tampering."""
    from pq_engine.interop.parquet_crypto import (
        encrypt_parquet_plaintext_footer,
    )
    from pq_engine.interop.parquet_reader import (
        read_footer,
        read_parquet_filtered_pandas,
    )

    n = 4000
    tags = [(f"aa{i // 1000}" if i % 2 == 0 else f"zz{i // 1000}").encode()
            for i in range(n)]
    path = str(tmp_path / "pf.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": _ragged(tags)},
        {"name": "score", "ptype": "float64", "codec": "plain",
         "values": np.arange(n) * 0.25},
    ], n, row_group_size=1000, data_page_rows=100,
        bloom_columns=["tag"], compression="zstd")
    plain = open(path, "rb").read()
    enc = encrypt_parquet_plaintext_footer(plain, FK, {"tag": CK})
    assert enc[:4] == b"PAR1" and enc[-4:] == b"PAR1"

    # redaction: no key needed to see the footer, but the encrypted
    # column's stats are gone; the plaintext column keeps its stats
    meta = read_footer(enc)
    chunks0 = meta["row_groups"][0]["chunks"]
    assert chunks0[1]["crypto"] is not None and chunks0[1]["stats"] is None
    assert chunks0[0]["crypto"] is None and chunks0[0]["stats"] is not None

    # key holder: identical rows AND identical pruning vs the plaintext
    # original (stats/bloom restored from encrypted_column_metadata)
    pred = ("and", ("ge", "id", 2500), ("lt", "id", 2600))
    df0, rep0 = read_parquet_filtered_pandas(path, pred)
    df1, rep1 = read_parquet_filtered_pandas(
        enc, pred, footer_key=FK, column_keys={"tag": CK})
    assert list(df1["id"]) == list(df0["id"])
    assert list(df1["tag"]) == list(df0["tag"])
    assert {k: rep1[k] for k in rep0} == rep0
    assert rep1["modules_decrypted"] < rep1["modules_total"] // 10

    # bloom pruning ON the encrypted column, from the carried modules
    dfb, repb = read_parquet_filtered_pandas(
        enc, ("eq", "tag", "qq9"), footer_key=FK, column_keys={"tag": CK})
    assert len(dfb) == 0 and repb["row_groups_bloom_pruned"] == 4

    # legacy reader path: plaintext columns readable with NO keys...
    dfl, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 3990), columns=["id", "score"])
    assert list(dfl["id"]) == list(range(3990, 4000))
    assert len(read_parquet_pandas(enc, columns=["id", "score"])) == n
    # ...and DuckDB (a real legacy reader) reads them from the same bytes
    duckdb = pytest.importorskip("duckdb")
    ep = str(tmp_path / "pf_enc.parquet")
    open(ep, "wb").write(enc)
    cnt, sm = duckdb.sql(
        f"SELECT count(*), sum(id) FROM (SELECT id FROM "
        f"read_parquet('{ep}'))").fetchone()
    assert (cnt, sm) == (n, n * (n - 1) // 2)

    # the encrypted column refuses BY NAME without keys
    with pytest.raises(ValueError, match="encrypted"):
        read_parquet_filtered_pandas(enc, ("eq", "tag", "aa1"))
    with pytest.raises(ValueError, match="encrypted"):
        read_parquet_pandas(enc)

    # footer signature: wrong key and tampered footer both refuse
    with pytest.raises(ValueError, match="signature"):
        read_parquet_filtered_pandas(enc, pred, footer_key=CK,
                                     column_keys={"tag": CK})
    bad = bytearray(enc)
    bad[-40] ^= 1
    with pytest.raises(ValueError, match="signature"):
        read_parquet_filtered_pandas(bytes(bad), pred, footer_key=FK,
                                     column_keys={"tag": CK})

    # guard rails: empty column_keys and absent columns refuse
    with pytest.raises(ValueError, match="column_keys"):
        encrypt_parquet_plaintext_footer(plain, FK, {})
    with pytest.raises(ValueError, match="absent"):
        encrypt_parquet_plaintext_footer(plain, FK, {"nope": CK})


def test_module_aad_suffix_shapes():
    aad = b"fileaad!"
    assert _module_aad(aad, 0) == aad + b"\x00"
    assert _module_aad(aad, 3, 1, 2) == aad + b"\x03\x01\x00\x02\x00"
    assert _module_aad(aad, 2, 1, 2, 7) == aad + b"\x02\x01\x00\x02\x00\x07\x00"
    assert _module_aad(b"", 2, 1, 2, 7) == b""


def test_duckdb_interop_both_directions(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    plain = _plain_file(tmp_path)
    # ours -> DuckDB (empty AAD = DuckDB's scheme)
    enc = encrypt_parquet(plain, FK, aad_mode="empty")
    epath = str(tmp_path / "ours_enc.parquet")
    open(epath, "wb").write(enc)
    con = duckdb.connect()
    con.execute(f"PRAGMA add_parquet_key('k1', '{FK.decode()}')")
    n_rows, id_sum, score_cnt = con.execute(
        "SELECT count(*), sum(id), count(score) FROM read_parquet(?, "
        "encryption_config={footer_key: 'k1'})", [epath]).fetchone()
    assert (n_rows, id_sum, score_cnt) == (400, 400 * 399 // 2, 400 - 58)
    # DuckDB -> ours
    dpath = str(tmp_path / "duck_enc.parquet")
    con.execute(
        "COPY (SELECT i AS id, 'n' || i AS s, CAST(i AS DOUBLE) / 4 AS d "
        "FROM range(500) t(i)) TO '" + dpath +
        "' (ENCRYPTION_CONFIG {footer_key: 'k1'})")
    df = read_parquet_pandas(decrypt_parquet(open(dpath, "rb").read(), FK))
    assert len(df) == 500
    assert df["s"][3] == "n3" and df["d"][8] == pytest.approx(2.0)


def test_decimal_converted_type_decode(tmp_path):
    """Legacy converted-type DECIMAL (FLBA and INT32/64) decodes to true
    decimals — what DuckDB/Hive-era writers emit (r6, found via the
    DuckDB-encrypted interop file)."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from decimal import Decimal

    p = str(tmp_path / "dec.parquet")
    papq.write_table(pa.table({
        "f": pa.array([Decimal("12.34"), None, Decimal("-0.07")],
                      pa.decimal128(12, 2)),
        "i": pa.array([Decimal("1.5"), Decimal("-2.5"), None],
                      pa.decimal128(5, 1)),
    }), p)
    df = read_parquet_pandas(p)
    assert list(df["f"]) == [Decimal("12.34"), None, Decimal("-0.07")]
    assert list(df["i"]) == [Decimal("1.5"), Decimal("-2.5"), None]


def test_cli_encrypt_decrypt_commands(tmp_path, capsys):
    """r6 CLI pair: encrypt-parquet/decrypt-parquet drive the modular
    encryption transform, column keys parsed from name=hex specs."""
    from pq_engine.cli import main

    plain = _plain_file(tmp_path)
    ppath = str(tmp_path / "plain.parquet")  # written by _plain_file
    enc = str(tmp_path / "enc.pare")
    dec = str(tmp_path / "dec.parquet")
    main(["encrypt-parquet", ppath, "--out", enc,
          "--key", FK.hex(), "--column-key", f"name={CK.hex()}",
          "--aad", "spec"])
    assert open(enc, "rb").read()[:4] == b"PARE"
    main(["decrypt-parquet", enc, "--out", dec,
          "--key", FK.hex(), "--column-key", f"name={CK.hex()}"])
    _check(read_parquet_pandas(dec))
    out = capsys.readouterr().out
    assert "1 column key(s)" in out and "decrypted" in out
    # missing key exits with a clear message
    with pytest.raises(SystemExit, match="--key"):
        main(["decrypt-parquet", enc, "--out", dec])
    # plaintext-footer mode via the flag: PAR1 magic kept, legacy read of
    # the plaintext columns works straight off the output
    pf = str(tmp_path / "pf.parquet")
    main(["encrypt-parquet", ppath, "--out", pf,
          "--key", FK.hex(), "--column-key", f"name={CK.hex()}",
          "--plaintext-footer"])
    assert open(pf, "rb").read()[:4] == b"PAR1"
    assert "plaintext-footer" in capsys.readouterr().out
    assert len(read_parquet_pandas(pf, columns=["id", "score"])) == 400
    with pytest.raises(SystemExit, match="column-key"):
        main(["encrypt-parquet", ppath, "--out", pf, "--key", FK.hex(),
              "--plaintext-footer"])


def test_encrypt_pyarrow_written_file_drops_stale_page_index(tmp_path):
    """Encrypting a foreign (pyarrow) file with a page index: the index
    rides the module transform (ColumnIndex as is, OffsetIndex repointed
    at the new layout) and ColumnChunk fields 4-7 point at it, while
    Statistics survive — the decrypted file still row-group-prunes and
    DuckDB reads it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    p = str(tmp_path / "pa.parquet")
    t = pa.table({"id": pa.array(range(5000), pa.int64()),
                  "s": pa.array([f"v{i % 13}" for i in range(5000)])})
    papq.write_table(t, p, row_group_size=1000, write_page_index=True,
                     data_page_size=512, write_batch_size=32)
    plain = open(p, "rb").read()
    for mode in ("spec", "empty"):
        dec = decrypt_parquet(encrypt_parquet(plain, FK, aad_mode=mode), FK)
        df = read_parquet_pandas(dec)
        assert list(df["id"]) == list(range(5000)) and df["s"][14] == "v1"
        fdf, rep = read_parquet_filtered_pandas(
            dec, ("and", ("ge", "id", 2500), ("lt", "id", 2600)))
        assert list(fdf["id"]) == list(range(2500, 2600))
        assert rep["row_groups_scanned"] == 1 and rep["row_groups_total"] == 5
    dpath = str(tmp_path / "dec.parquet")
    open(dpath, "wb").write(dec)
    assert duckdb.sql(
        f"SELECT count(*), sum(id) FROM read_parquet('{dpath}')"
    ).fetchone() == (5000, 12497500)
