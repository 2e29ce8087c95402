"""Byte identity of ``pq to-parquet``: the sha256 of the file that
``cli.cmd_to_parquet`` writes is pinned for page tables of the sf0.01
``lineitem``/``events`` files (with blooms) and a seeded ``gen_webpages``
slice, each under ``page_compression`` None and ``"zstd"``; the inputs and
page tables are those of ``test_page_table_digests``.

The export copies the engine's pages into one row group per chunk (page
headers, levels, statistics, page index and blooms built from the page
rows) and decodes and re-encodes only the chunks parquet cannot carry as
they are (``fsst`` in the uncompressed webpages table), so a change to the
page copy, to those decoders or to the page-table grouping that moves one
byte of the file fails here.
"""

import argparse
import contextlib
import hashlib
import io

import pytest
from test_page_table_digests import page_table, source

from pq_engine.cli import cmd_to_parquet

# (input, page_compression) -> sha256 of the exported .parquet
PINNED = {
    ("lineitem", None):
        "de90875561236e6b8fe1eb7e0a2fbb49f5ba80aa4c93301029615dff4054773c",
    ("lineitem", "zstd"):
        "de90875561236e6b8fe1eb7e0a2fbb49f5ba80aa4c93301029615dff4054773c",
    ("events", None):
        "2cdbd4c12fd7d8f89ae241fa6569075e372066616d00fb702137e0c781df6f8a",
    ("events", "zstd"):
        "2cdbd4c12fd7d8f89ae241fa6569075e372066616d00fb702137e0c781df6f8a",
    ("webpages", None):
        "8c730866bc814c424a7b83dd1d01d4259f7969eac0bb534c45f165af99370b42",
    ("webpages", "zstd"):
        "609e8eee91bf3f90cfd9c791ce3f9c4f2bfa3affe4ed456fee93e3f9012ed51b",
}


@pytest.mark.parametrize("name,page_compression", list(PINNED))
def test_export_digest(name, page_compression, tmp_path):
    out = tmp_path / "out.parquet"
    path, with_bloom = source(name, tmp_path)
    tbl = page_table(path, page_compression, with_bloom)
    with contextlib.redirect_stdout(io.StringIO()):
        cmd_to_parquet(tbl, argparse.Namespace(out=str(out), to="zstd"))
    assert hashlib.sha256(out.read_bytes()).hexdigest() == PINNED[(name, page_compression)]
