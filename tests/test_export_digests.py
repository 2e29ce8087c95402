"""Byte identity of ``pq to-parquet``: the sha256 of the file that
``cli.cmd_to_parquet`` writes is pinned for page tables of the sf0.01
``lineitem``/``events`` files (with blooms) and a seeded ``gen_webpages``
slice, each under ``page_compression`` None and ``"zstd"``; the inputs and
page tables are those of ``test_page_table_digests``.

The export decodes every page of the table (DELTA, dictionary, RLE levels,
DLBA, ...) and re-encodes it through the interop writer, so a change to a
decoder or to the page-table grouping that moves one value, or one row of
one chunk, fails here.
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
        "d1ce56fcf58ff08e97be77cea167269ddb530b6bba59c9bf5ec5d5e641788ea2",
    ("lineitem", "zstd"):
        "d1ce56fcf58ff08e97be77cea167269ddb530b6bba59c9bf5ec5d5e641788ea2",
    ("events", None):
        "efe428a79f263603d8c2e57b5c788813c77d4593d6e878acb1ef86c2072d0f36",
    ("events", "zstd"):
        "efe428a79f263603d8c2e57b5c788813c77d4593d6e878acb1ef86c2072d0f36",
    ("webpages", None):
        "f523e20f9cd96445e30e5670ee04274d40bb3eb52b1f7a924e0f01ec2017f0b4",
    ("webpages", "zstd"):
        "f523e20f9cd96445e30e5670ee04274d40bb3eb52b1f7a924e0f01ec2017f0b4",
}


@pytest.mark.parametrize("name,page_compression", list(PINNED))
def test_export_digest(name, page_compression, tmp_path):
    out = tmp_path / "out.parquet"
    path, with_bloom = source(name, tmp_path)
    tbl = page_table(path, page_compression, with_bloom)
    with contextlib.redirect_stdout(io.StringIO()):
        cmd_to_parquet(tbl, argparse.Namespace(out=str(out), to="zstd"))
    assert hashlib.sha256(out.read_bytes()).hexdigest() == PINNED[(name, page_compression)]
