"""Byte identity of ``write_parquet``: the sha256 of every file in a fixed
matrix is pinned. Each entry hashes the 16 files of one (ptype, codec)
pair — nulls x page version x ``data_page_rows`` (None = one data page
per chunk, 700 = paged + page index) x compression. A writer refactor that
moves any byte of any page, header or footer fails here."""

import hashlib

import numpy as np
import pytest

from pq_engine.interop.parquet_writer import write_parquet
from pq_engine.kernels.ragged import RaggedBytes

N_ROWS = 2000

MATRIX = {
    ("string", "plain"):
        "f1163b5dc44e29ae6ff768ceb9aaa90b30308087ed94231925192e4ece1b0235",
    ("string", "dict"):
        "38960cf48d02c84426965160f96b4420e39341c43666b2b4c0d3b0c8d081f26a",
    ("string", "dlba"):
        "e314f40ff9e1d3a01a4aa1a5aaa3d7215f8330807e357d0449c6abcafd3c2ed7",
    ("string", "dba"):
        "af7a257ba3d2e6a4b99e5c8d3081335f833dbb7900d7b5a1e397ece4a80dcfb0",
    ("binary", "plain"):
        "eb10c49cbeccbda8db19efbeb120de3c3024642e5769258ffba86a4a90c49221",
    ("binary", "dict"):
        "67eff2b8b7483741ecfcbb1273ec2320c3bc57a4c25947936c43f39d175d7bf6",
    ("int64", "plain"):
        "e756e3aae4668ee342b27fc122491401560fc5cfe73297bfa6b5d4637f3f7f1e",
    ("int64", "dict"):
        "ca3345f4c8f18179aa04a957868f92b9f743343222cc1584d3d2973acc62b8ca",
    ("int64", "delta"):
        "305be3509964b876715bf69901ce3a3455d84347b3cd4f24888fea7a59bb28fc",
    ("int64", "bss"):
        "5a148cc382c69f6f021b6385c4548b0aa1197a7e718a9b6525f8c91fc1d1f6ef",
    ("float64", "plain"):
        "80d34ac9b1954d29fc8316a862cb49a1ac3197fcd4228b0c67a3e3f1c6245bc0",
    ("float64", "dict"):
        "b652dbaa113ce9be6be8e1be83b2c8067780e336b9a03ef1a9a85b60fe1c5df3",
    ("float64", "bss"):
        "463267d9ad401a0010acc67549652d04db7bbfe15f613c7cc825811c8e7854d3",
    ("bool", "plain"):
        "52e70872396a0d00d3d75666648e83c726c902d573a6f14af70c2cff9c594547",
    ("fixed[16]", "plain"):
        "67380574c5ad59b730b94344641c3b81eb41e7651e3f6471faca93cc8af3098c",
}


def _values(ptype: str, n: int, rng):
    if ptype == "string":
        # shared prefixes (DBA), repeats (dict) and empty strings
        host = rng.integers(0, 40, n)
        page = rng.integers(0, 10**6, n)
        return RaggedBytes.from_pylist([
            b"" if p % 17 == 0 else b"https://host%d.example/p/%d" % (h, p)
            for h, p in zip(host, page)
        ])
    if ptype == "binary":
        # bytes >= 0x80 (min/max order is unsigned), prefix pairs (b"ab" <
        # b"abc") and empty values only in the first page, so later pages
        # carry non-empty page-index minimums
        stems = [rng.integers(0, 256, k, dtype=np.uint8).tobytes()
                 for k in rng.integers(1, 5, 50)]
        tails = [b"", b"\x00", b"\x7f", b"\x80", b"\xff\xff"]
        stem = rng.integers(0, len(stems), n)
        tail = rng.integers(0, len(tails), n)
        return RaggedBytes.from_pylist([
            b"" if i < 600 and i % 13 == 0 else stems[s] + tails[t]
            for i, (s, t) in enumerate(zip(stem, tail))
        ])
    if ptype == "int64":
        return np.cumsum(rng.integers(-50, 1000, n)).astype(np.int64)
    if ptype == "float64":
        return np.round(rng.standard_normal(n) * 100, 2)
    if ptype == "bool":
        return rng.random(n) < 0.3
    return rng.integers(0, 8, (n, 16)).astype(np.uint8)  # fixed[16]


def _column(ptype: str, codec: str, nulls: bool) -> dict:
    rng = np.random.default_rng(7)
    vals = _values(ptype, N_ROWS, rng)
    col = {"name": "c", "ptype": ptype, "codec": codec, "values": vals}
    if nulls:
        validity = rng.random(N_ROWS) >= 0.2
        keep = np.flatnonzero(validity)
        col["values"] = vals.take(keep) if isinstance(vals, RaggedBytes) \
            else vals[keep]
        col["validity"] = validity
    return col


@pytest.mark.parametrize("ptype,codec", sorted(MATRIX))
def test_write_parquet_bytes_pinned(ptype, codec, tmp_path):
    h = hashlib.sha256()
    for nulls in (False, True):
        col = _column(ptype, codec, nulls)
        for page_version in (1, 2):
            for data_page_rows in (None, 700):
                for compression in (None, "zstd"):
                    p = tmp_path / "f.parquet"
                    write_parquet(str(p), [dict(col)], N_ROWS,
                                  compression=compression,
                                  page_version=page_version,
                                  data_page_rows=data_page_rows)
                    h.update(hashlib.sha256(p.read_bytes()).digest())
    assert h.hexdigest() == MATRIX[(ptype, codec)]
