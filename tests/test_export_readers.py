"""``pq to-parquet`` by page copy, read back by independent readers.

The export writes every (split_id, batch_id) chunk as one row group and
copies the engine's pages into it as they are (dictionary page, V2 data
pages, bloom filter, page index); chunks parquet cannot carry as they are
(here: ``fsst`` in the uncompressed webpages tables) are decoded and
re-encoded. pyarrow, DuckDB and Spark must read every exported file
cell-identically to its source, and the pruning metadata the copy writes
(bloom filters, dictionaries, encoding stats) must never lose a row.

Inputs are those of ``test_page_table_digests``: the sf0.01
``lineitem``/``events`` files with blooms and a seeded ``gen_webpages``
slice, under page compression None and ``"zstd"``, plus one ``zlib``
webpages table (transcoded: zlib is no parquet codec).
"""

import argparse
import contextlib
import io
import zlib

import duckdb
import pyarrow.parquet as pq
import pytest
from test_page_table_digests import page_table, source

from pq_engine.cli import cmd_to_parquet
from pq_engine.interop.parquet_reader import read_parquet_filtered

CASES = [(name, comp) for name in ("lineitem", "events", "webpages")
         for comp in (None, "zstd")] + [("webpages", "zlib")]


def _export(tbl, out, to="zstd") -> str:
    """Run the export; returns its summary line."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cmd_to_parquet(tbl, argparse.Namespace(out=str(out), to=to))
    return buf.getvalue().strip()


@pytest.fixture(scope="module")
def exports(tmp_path_factory):
    """case -> (source parquet path, exported parquet path), built lazily."""
    made = {}

    def get(name, comp):
        if (name, comp) not in made:
            tmp = tmp_path_factory.mktemp(f"{name}_{comp}")
            path, with_bloom = source(name, tmp)
            out = tmp / "out.parquet"
            _export(page_table(path, comp, with_bloom), out)
            made[name, comp] = (path, str(out))
        return made[name, comp]

    return get


@pytest.mark.parametrize("name,comp", CASES)
def test_pyarrow_reads_export_cell_identically(exports, name, comp):
    path, out = exports(name, comp)
    src, got = pq.read_table(path), pq.read_table(out)
    assert sorted(got.column_names) == sorted(src.column_names)
    assert pq.ParquetFile(out).metadata.num_row_groups >= 1
    for c in src.column_names:
        want = src[c].combine_chunks()
        assert got[c].combine_chunks().cast(want.type).equals(want), c


@pytest.mark.parametrize("name,comp", CASES)
def test_duckdb_reads_export_cell_identically(exports, name, comp):
    path, out = exports(name, comp)
    cols = ", ".join(f'"{c}"' for c in pq.read_schema(path).names)
    src = f"SELECT {cols} FROM read_parquet('{path}')"
    got = f"SELECT {cols} FROM read_parquet('{out}')"
    assert duckdb.sql(f"SELECT count(*) FROM ({got})").fetchone() == \
        duckdb.sql(f"SELECT count(*) FROM ({src})").fetchone()
    for a, b in ((src, got), (got, src)):
        assert duckdb.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone() == (0,)


@pytest.mark.parametrize("name,comp", CASES)
def test_spark_reads_export_cell_identically(exports, spark, name, comp):
    path, out = exports(name, comp)
    cols = pq.read_schema(path).names
    src = spark.read.parquet(path).select(*cols)
    got = spark.read.parquet(out).select(*cols)
    assert got.count() == src.count()
    assert src.exceptAll(got).count() == 0
    assert got.exceptAll(src).count() == 0


@pytest.mark.parametrize("comp", [None, "zstd"])
def test_bloom_probes_keep_every_match(exports, spark, comp):
    # Spark (parquet-mr) and the interop reader skip a row group whose bloom
    # filter lacks the key, so a bloom hashed unlike the spec loses these
    # rows there (DuckDB 1.0 reads no bloom filters: its count is the answer);
    # an int64, a string and an int32 column
    path, out = exports("lineitem", comp)
    for col in ("l_orderkey", "l_returnflag", "l_linenumber"):
        keys = [k for (k,) in duckdb.sql(
            f"SELECT {col} FROM read_parquet('{path}') USING SAMPLE 5 ROWS (reservoir, 3)"
        ).fetchall()]
        q = "SELECT count(*) FROM read_parquet('{}') WHERE " + col + " = {!r}"
        for k in keys:
            (want,) = duckdb.sql(q.format(path, k)).fetchone()
            assert duckdb.sql(q.format(out, k)).fetchone() == (want,)
            assert spark.read.parquet(out).filter(f"{col} = {k!r}").count() == want
            _, cols, report = read_parquet_filtered(out, ("eq", col, k))
            assert report["blooms_probed"] > 0 and report["rows_matched"] == want, (col, k)


@pytest.mark.parametrize("comp", [None, "zstd", "zlib"])
def test_lang_filters_on_export(exports, comp):
    path, out = exports("webpages", comp)
    q = "SELECT count(*) FROM read_parquet('{}') WHERE lang = '{}'"
    for lang in ("qq", "zh", "hu"):
        assert duckdb.sql(q.format(out, lang)).fetchone() == \
            duckdb.sql(q.format(path, lang)).fetchone()
    # the miss is disproved by the copied dictionaries alone
    _, cols, report = read_parquet_filtered(out, ("eq", "lang", "qq"))
    assert report["row_groups_dict_pruned"] > 0
    assert report["rows_matched"] == 0


@pytest.mark.parametrize("to,summary", [
    ("zstd", "0 copied, 6 transcoded, 4 re-encoded: fsst 4"),
    (None, "6 copied, 0 transcoded, 4 re-encoded: fsst 4"),
])
def test_export_summary_counts_its_decisions(tmp_path, to, summary):
    # the uncompressed webpages table: url/lang/warc_ts pages copy, the
    # fsst html/text chunks (2 row groups x 2 columns) are re-encoded
    path, with_bloom = source("webpages", tmp_path)
    line = _export(page_table(path, None, with_bloom), tmp_path / "out.parquet", to)
    assert line.endswith(f"(column chunks: {summary})"), line
    assert "3000 rows x 5 columns in 2 row groups" in line


@pytest.mark.parametrize("page", ["data", "dictionary"])
def test_export_refuses_a_corrupt_page(tmp_path, page):
    """A page blob that fails its engine CRC32 raises IOError, and no file
    is left at --out: a copy must never give a corrupt blob a valid
    parquet CRC."""
    import pyarrow as pa
    import pyarrow.compute as pc

    path, with_bloom = source("webpages", tmp_path)
    tbl = page_table(path, "zstd", with_bloom)
    codec = "dict" if page == "data" else "dictpage"
    row = pc.index(pc.and_(pc.equal(tbl["column"], "lang"), pc.equal(tbl["codec"], codec)),
                   True).as_py()
    assert row >= 0
    data = tbl["data"].to_pylist()
    blob = bytearray(data[row])
    blob[len(blob) // 2] ^= 0x10
    assert zlib.crc32(blob) != tbl["crc32"][row].as_py()
    data[row] = bytes(blob)
    tbl = tbl.set_column(tbl.schema.get_field_index("data"), "data",
                         pa.array(data, tbl.schema.field("data").type))
    out = tmp_path / "out.parquet"
    with pytest.raises(IOError, match="CRC"):
        _export(tbl, out)
    assert not out.exists()
    assert not list(tmp_path.glob("out.parquet*"))
