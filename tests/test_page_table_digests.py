"""Byte identity of the engine's page tables: the sha256 over every page-table
row's ``(split_id, batch_id, column, page, codec, crc32, data)`` is pinned for
the sf0.01 ``lineitem``/``events`` files (with blooms) and a seeded
``gen_webpages`` slice, each under ``page_compression`` None and ``"zstd"``.

The tables are built in process with ``engine._encode_arrow_batch``, the way
``encode_parquet_files``' worker calls it: one split per row group, batches
from ``iter_batches(batch_size=65536)``, every option at its default. A change
to any kernel, page layout, codec choice or bloom filter that moves one byte
of one page fails here.
"""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pq_engine.datagen import gen_webpages
from pq_engine.pages import PAGE_BYTES, PAGE_ROWS
from pq_engine.spark.engine import _codec_of, _encode_arrow_batch, arrow_type_to_ptype
from tools.check_oracle import SF_DIR  # the sf0.01 tables the oracle gate reads

BATCH_ROWS = 65_536
WEBPAGES_ROWS = 3_000
WEBPAGES_ROW_GROUP = 1_500

# (input, page_compression) -> sha256 of its page table
PINNED = {
    ("lineitem", None):
        "98f1ba4475e3c14c7a5a385e85c53c98d2c0601677a9cabda4c730eb311f6733",
    ("lineitem", "zstd"):
        "8e1520fd0dfbadafef19476599c21f222d8a2818f3fc8aabd18a456c5658e544",
    ("events", None):
        "c62841a18a3c652b3fe04a6f744047579f85e73820cf4dfc0d8de837e217009e",
    ("events", "zstd"):
        "10b77615271edf870cd39d2ca71223e7ac39dbb093c5e16bf74b5d2ef0723a9c",
    ("webpages", None):
        "11a1db0185c6705f23b2f1378c5ce150d610149c74d843dc2aa71ac2a8802ec8",
    ("webpages", "zstd"):
        "f854071e465916649b588124a2be2b82bc331ccd885a6897a712dbdc5859817d",
}


def source(name: str, tmp_path) -> tuple[str, bool]:
    """(parquet path, with_bloom) of one input."""
    if name == "webpages":
        path = str(tmp_path / "webpages.parquet")
        pq.write_table(gen_webpages(WEBPAGES_ROWS, seed=7), path,
                       row_group_size=WEBPAGES_ROW_GROUP)
        return path, False
    path = f"{SF_DIR}/{name}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    return path, True


def page_table(path: str, page_compression, with_bloom: bool) -> pa.Table:
    """The page table ``encode_parquet_files`` would sink for ``path``."""
    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    cols = schema.names
    ptypes = {n: arrow_type_to_ptype(schema.field(n).type) for n in cols}
    return pa.Table.from_batches([
        _encode_arrow_batch(batch, cols, ptypes, _codec_of("auto"), split, bi,
                            PAGE_ROWS, PAGE_BYTES, page_compression, with_bloom)
        for split in range(pf.metadata.num_row_groups)
        for bi, batch in enumerate(pf.iter_batches(batch_size=BATCH_ROWS, columns=cols,
                                                   row_groups=[split]))
    ])


def _digest(tbl: pa.Table) -> str:
    d = tbl.to_pydict()
    rows = zip(d["split_id"], d["batch_id"], d["column"], d["page"], d["codec"],
               d["crc32"], d["data"])
    h = hashlib.sha256()
    for split, bi, column, page, codec, crc, data in sorted(rows, key=lambda r: r[:4]):
        head = f"{split}|{bi}|{column}|{page}|{codec}|{crc}|{len(data)}|"
        h.update(head.encode())
        h.update(data)
    return h.hexdigest()


@pytest.mark.parametrize("name,page_compression", list(PINNED))
def test_page_table_digest(name, page_compression, tmp_path):
    path, with_bloom = source(name, tmp_path)
    assert _digest(page_table(path, page_compression, with_bloom)) == PINNED[(name, page_compression)]

