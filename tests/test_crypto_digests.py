"""Byte identity of the parquet modular-encryption transforms: the sha256
of every ``encrypt_parquet`` / ``encrypt_parquet_plaintext_footer`` output
and of its ``decrypt_parquet`` inverse is pinned for a fixed input matrix.

``os.urandom`` is patched to return zero bytes, so every nonce and every
``aad_file_unique`` is the same whatever order the transform draws them in;
the output bytes then depend only on the file layout, which is what a
refactor of the page walk, the page-index pass or the footer patch must
keep. The nonce reuse this causes is acceptable only inside this test.

Input: two ``write_parquet`` files (V1 and V2 data pages) with 3 row
groups, a dictionary column, a nullable column, a ColumnIndex/OffsetIndex
and a bloom filter; plus one pyarrow-written file with a page index."""

import hashlib
import os

import numpy as np
import pytest

from pq_engine.interop.parquet_crypto import (
    decrypt_parquet,
    encrypt_parquet,
    encrypt_parquet_plaintext_footer,
)
from pq_engine.interop.parquet_writer import write_parquet
from pq_engine.kernels.ragged import RaggedBytes

FK = b"0123456789012345"
CK = b"abcdefghijklmnop"
PREFIX = b"tbl/part-0.parquet"
N_ROWS = 3000

# case -> (encrypt kwargs, decrypt kwargs)
_COLUMN = {"column_keys": {"tag": CK}, "key_metadata": b"fk-id",
           "column_key_metadata": {"tag": b"ck-id"}}
CASES = {
    f"{aad}-{algo}-{'ck' if ck else 'fk'}": (
        {"aad_mode": aad, "algorithm": algo, **(_COLUMN if ck else {})},
        {"column_keys": {"tag": CK}} if ck else {})
    for aad in ("spec", "empty")
    for algo in ("AES_GCM_V1", "AES_GCM_CTR_V1")
    for ck in (False, True)
}
CASES["spec-prefix-stored"] = ({"aad_prefix": PREFIX}, {})
CASES["spec-prefix-supplied"] = (
    {"aad_prefix": PREFIX, "supply_aad_prefix": True},
    {"aad_prefix": PREFIX})

# case -> (sha256 over the encrypted files, sha256 over the decrypted files)
DIGESTS = {
    "empty-AES_GCM_CTR_V1-ck": (
        "691305ae7497a89795477144c32bd3d867dc2a8a7c75fd4eeceb5587456d2ff7",
        "60eaf2945dda2e504d162538b020460b22736f8f92c2873d5a5467cc91985ecf"),
    "empty-AES_GCM_CTR_V1-fk": (
        "3f4855798908f05d6b697fbe89a43fc4f85ac399636f2f61f8dd0f6086c604c1",
        "6b97c5ea0ca5e98ea4c570ff03a4fa3f69f17b2d78c474a62cb4f3067fb6100b"),
    "empty-AES_GCM_V1-ck": (
        "1f963bc64e9ce7c0dc23fbca829f81844e034ee331ac9f1791e67851c3f1d46f",
        "60eaf2945dda2e504d162538b020460b22736f8f92c2873d5a5467cc91985ecf"),
    "empty-AES_GCM_V1-fk": (
        "7fef3ca0181a7991499c40e098b0833742793b3da04a877b5ad13791330efeaf",
        "6b97c5ea0ca5e98ea4c570ff03a4fa3f69f17b2d78c474a62cb4f3067fb6100b"),
    "plaintext-footer-AES_GCM_CTR_V1": (
        "8b9f41130685c273ce0e04a1c2e9db30c19c5a7252903c509d51238c1234eab8",
        "085d460d9b7a7abea6007bc3045257042e4ce0ed95e3c969074fe49e7a43d509"),
    "plaintext-footer-AES_GCM_V1": (
        "d49f4e121d7139936cb1927535b70ec8f011e99f5843f48568ea6fd5f7ceb267",
        "085d460d9b7a7abea6007bc3045257042e4ce0ed95e3c969074fe49e7a43d509"),
    "spec-AES_GCM_CTR_V1-ck": (
        "0c0467e36f99ab3776bb55283098bd316965c39d5c2272db4c52808fc13cb4fd",
        "085d460d9b7a7abea6007bc3045257042e4ce0ed95e3c969074fe49e7a43d509"),
    "spec-AES_GCM_CTR_V1-fk": (
        "dfba0f46d523e3b6353efc2aff8a66e514ba30273dcd9f07a5055a8e9bbdb39b",
        "5561941371048e89660cd58d630c609e97e8b667816b4a0692fb3033d5951f10"),
    "spec-AES_GCM_V1-ck": (
        "e741f04a42141dcfd4fef7036ea691ad7c12505f1cb90b58f66b24a55e0ff4a2",
        "085d460d9b7a7abea6007bc3045257042e4ce0ed95e3c969074fe49e7a43d509"),
    "spec-AES_GCM_V1-fk": (
        "7f92bb9725bf89b523aaaefac04679ca70e08fde886a77bcc25142068cb31756",
        "5561941371048e89660cd58d630c609e97e8b667816b4a0692fb3033d5951f10"),
    "spec-prefix-stored": (
        "5d851c4c8982eeb04ecee92a0f7a5a1e6c4ae7bfe119228d92a252406be94473",
        "5561941371048e89660cd58d630c609e97e8b667816b4a0692fb3033d5951f10"),
    "spec-prefix-supplied": (
        "7f210fdceb41b90374ab7579e8dbdaf08fb30dad94d39e5c3ec15a05cb5014ad",
        "5561941371048e89660cd58d630c609e97e8b667816b4a0692fb3033d5951f10"),
}
PYARROW_ROUNDTRIP = (
    "bdb9591e24b3b4f167ef1d39abdb2f471e143dc9ea6906e428252e4600b3b7ec")


@pytest.fixture
def zero_urandom(monkeypatch):
    monkeypatch.setattr(os, "urandom", lambda n: bytes(n))


def _plain(tmp_path, page_version: int) -> bytes:
    rng = np.random.default_rng(11)
    validity = rng.random(N_ROWS) >= 0.25
    path = tmp_path / f"plain_v{page_version}.parquet"
    write_parquet(str(path), [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(N_ROWS, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "dict",
         "values": RaggedBytes.from_pylist(
             [b"tag-%d" % (i % 23) for i in range(N_ROWS)])},
        {"name": "score", "ptype": "float64", "codec": "plain",
         "values": rng.standard_normal(N_ROWS)[validity],
         "validity": validity},
    ], N_ROWS, compression="zstd", page_version=page_version,
        row_group_size=1000, data_page_rows=250, bloom_columns=["tag"])
    return path.read_bytes()


def _digests(plains, encrypt, decrypt_kw) -> tuple[str, str]:
    he, hd = hashlib.sha256(), hashlib.sha256()
    for plain in plains:
        enc = encrypt(plain)
        he.update(hashlib.sha256(enc).digest())
        hd.update(hashlib.sha256(
            decrypt_parquet(enc, FK, **decrypt_kw)).digest())
    return he.hexdigest(), hd.hexdigest()


@pytest.mark.parametrize("case", sorted(DIGESTS))
def test_crypto_bytes_pinned(case, tmp_path, zero_urandom):
    plains = [_plain(tmp_path, v) for v in (1, 2)]
    if case.startswith("plaintext-footer-"):
        algo = case.split("-", 2)[2]
        got = _digests(
            plains,
            lambda p: encrypt_parquet_plaintext_footer(
                p, FK, {"tag": CK}, footer_key_metadata=b"fk-id",
                column_key_metadata={"tag": b"ck-id"}, algorithm=algo),
            {"column_keys": {"tag": CK}})
    else:
        enc_kw, dec_kw = CASES[case]
        got = _digests(plains, lambda p: encrypt_parquet(p, FK, **enc_kw),
                       dec_kw)
    assert got == DIGESTS[case]


def test_pyarrow_page_index_roundtrip_pinned(tmp_path, zero_urandom):
    import pyarrow as pa
    import pyarrow.parquet as papq

    p = tmp_path / "pa.parquet"
    papq.write_table(
        pa.table({"x": np.arange(6000, dtype=np.int64),
                  "s": [f"s{i % 13}" for i in range(6000)]}),
        str(p), write_page_index=True, data_page_size=4096,
        use_dictionary=["s"], row_group_size=3000)
    dec = decrypt_parquet(encrypt_parquet(p.read_bytes(), FK), FK)
    assert hashlib.sha256(dec).hexdigest() == PYARROW_ROUNDTRIP
