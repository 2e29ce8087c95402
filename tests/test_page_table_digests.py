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
        "4ee98ac699c0b29e81c53f2660813aa89fc8a982f4919480e083eab202fa95a4",
    ("lineitem", "zstd"):
        "41a9fd14937de9cb118e4abdcce9f524e0349e70dff7e95d8ceb6cab997c0076",
    ("events", None):
        "b222eafd691bab1b51d204314d1d4ccb67730741f64976bf567b5fc796b0e0e4",
    ("events", "zstd"):
        "49d2f8567daa1a267d72f76bfb0e135e11d71da52137ce5219dae90f1b5f4211",
    ("webpages", None):
        "42acd6d2fb372ab0f618777bb92d59afd71ddea9536a0cc26ba030b6e0d134e7",
    ("webpages", "zstd"):
        "cc0969441fe96483d71264bfbae747a6cff8bdb534a58506df4fcf060f67165d",
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

