"""Tests for the extended CLI (parquet-cli command-breadth analog:
column-index, column-size, bloom-filter, scan, prune, mask,
trans-compression, from-csv)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pq_engine.cli import main as cli_main
from pq_engine.spark.engine import decode_table, encode_table, table_ptypes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def pages_dir(spark):
    out = tempfile.mkdtemp(prefix="pq_cli2_")
    df = spark.createDataFrame(
        [(i, f"key{i % 10}", float(i)) for i in range(2000)],
        "id long, k string, v double",
    ).coalesce(1)
    encode_table(df, page_rows=250, with_bloom=True).write.parquet(f"{out}/pages")
    yield f"{out}/pages"
    shutil.rmtree(out, ignore_errors=True)


def run(capsys, *argv):
    cli_main(list(argv))
    return capsys.readouterr().out


def test_scan(pages_dir, capsys):
    out = run(capsys, "scan", pages_dir)
    assert "records=2000" in out and "columns=3" in out


def test_column_size(pages_dir, capsys):
    out = run(capsys, "column-size", pages_dir)
    assert "id" in out and "share" in out


def test_column_index(pages_dir, capsys):
    out = run(capsys, "column-index", pages_dir, "--column", "id")
    assert "boundary_order=ASCENDING" in out
    assert "first_row=" in out


def test_bloom_filter_probe(pages_dir, capsys):
    out = run(capsys, "bloom-filter", pages_dir, "--column", "k", "--value", "key3")
    assert "maybe_contains(key3)=True" in out
    out = run(capsys, "bloom-filter", pages_dir, "--column", "k", "--value", "nope")
    assert "maybe_contains(nope)=False" in out


def test_prune_cli(pages_dir, capsys, spark):
    out_dir = tempfile.mkdtemp(prefix="pq_prune_")
    try:
        run(capsys, "prune", pages_dir, "--out", out_dir, "--columns", "id,k")
        pruned = spark.read.parquet(out_dir)
        assert set(r["column"] for r in pruned.select("column").distinct().collect()) == {"id", "k"}
        back = decode_table(pruned, ["id", "k"], ptypes={"id": "int64", "k": "string"})
        assert back.count() == 2000
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_mask_cli_hash(pages_dir, capsys, spark):
    out_dir = tempfile.mkdtemp(prefix="pq_mask_")
    try:
        run(capsys, "mask", pages_dir, "--out", out_dir, "--column", "k", "--mode", "hash")
        masked = spark.read.parquet(out_dir)
        back = decode_table(
            masked, ["id", "k"], ptypes={"id": "int64", "k": "string"}
        )
        row = back.filter(F.col("id") == 0).collect()[0]
        import hashlib

        assert row["k"] == hashlib.md5(b"key0").hexdigest()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_trans_compression_cli(pages_dir, capsys, spark):
    out_dir = tempfile.mkdtemp(prefix="pq_tc_")
    try:
        run(capsys, "trans-compression", pages_dir, "--out", out_dir, "--to", "zstd")
        re_pages = spark.read.parquet(out_dir)
        comps = {r["compression"] for r in re_pages.filter("page >= 0").select("compression").distinct().collect()}
        assert comps == {"zstd"}
        back = decode_table(
            re_pages, ["id", "k", "v"],
            ptypes={"id": "int64", "k": "string", "v": "float64"},
        )
        assert back.count() == 2000
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_from_csv_cli(capsys, spark):
    out_dir = tempfile.mkdtemp(prefix="pq_csv_")
    csv_path = os.path.join(out_dir, "in.csv")
    try:
        with open(csv_path, "w") as f:
            f.write("name,n\n")
            for i in range(500):
                f.write(f"row{i % 7},{i}\n")
        run(capsys, "from-csv", csv_path, "--out", f"{out_dir}/pages")
        pages = spark.read.parquet(f"{out_dir}/pages")
        back = decode_table(pages, ["name", "n"], ptypes={"name": "string", "n": "int64"})
        assert back.count() == 500
        assert back.filter(F.col("name") == "row3").count() == len([i for i in range(500) if i % 7 == 3])
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------- round 3


def _encode_local(values, ptype, codec="auto", page_rows=100):
    import pyarrow as pa

    from pq_engine.pages import encode_column
    from pq_engine.pagetable import page_rows as build_rows

    pages = encode_column(values, ptype, codec=codec, page_rows=page_rows)
    return pa.Table.from_batches([build_rows(0, 0, [("c", pages)])])


def test_boundary_order_persisted_and_binary_search(capsys):
    import numpy as np

    from pq_engine.cli import cmd_column_index

    class A:
        column = "c"
        value = "5000"

    vals = np.arange(10000, dtype=np.int64)  # sorted → ASCENDING persisted
    tbl = _encode_local(vals, "int64", codec="plain", page_rows=1000)
    colindex = tbl.filter(__import__("pyarrow").compute.equal(tbl["page"], -4))
    assert colindex.num_rows == 1
    assert colindex["min"][0].as_py() == "ASCENDING"
    cmd_column_index(tbl, A())
    out = capsys.readouterr().out
    assert "boundary_order=ASCENDING (persisted)" in out
    assert "via binary-search" in out
    assert "candidates(5000)=[5]" in out  # page 5 covers 5000-5999


def test_boundary_order_unordered_scan(capsys):
    import numpy as np

    from pq_engine.cli import cmd_column_index

    class A:
        column = "c"
        value = "7"

    rng = np.random.default_rng(0)
    tbl = _encode_local(rng.permutation(5000).astype(np.int64), "int64",
                        codec="plain", page_rows=500)
    cmd_column_index(tbl, A())
    out = capsys.readouterr().out
    assert "boundary_order=UNORDERED (persisted)" in out
    assert "via scan" in out


def test_locate_value_pages_descending():
    from pq_engine.cli import locate_value_pages

    mins = [80, 60, 40, 20, 0]
    maxs = [99, 79, 59, 39, 19]
    assert locate_value_pages(mins, maxs, 65, "DESCENDING") == [1]
    assert locate_value_pages(mins, maxs, 100, "DESCENDING") == []
    # missing stats pages are always candidates
    assert locate_value_pages([None, 10], [None, 20], 15, "ASCENDING") == [0, 1]


def test_cli_check_stats_detects_corruption(tmp_path, capsys):
    import numpy as np
    import pytest

    from pq_engine.cli import cmd_check_stats

    tbl = _encode_local(np.arange(1000, dtype=np.int64), "int64", page_rows=200)
    cmd_check_stats(tbl, None)
    assert "stats OK" in capsys.readouterr().out
    # corrupt a page min
    import pyarrow as pa

    mins = tbl["min"].to_pylist()
    for i in range(tbl.num_rows):
        if tbl["page"][i].as_py() == 1:
            mins[i] = "999999"  # falsely claims min > real values
    bad = tbl.set_column(tbl.schema.get_field_index("min"), "min", pa.array(mins))
    with pytest.raises(SystemExit):
        cmd_check_stats(bad, None)
    assert "CORRUPT" in capsys.readouterr().out


def test_cli_rewrite_and_to_parquet(tmp_path):
    import subprocess
    import sys

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_engine.kernels.ragged import RaggedBytes
    from pq_engine.pages import encode_column
    from pq_engine.pagetable import page_rows

    texts = RaggedBytes.from_pylist([b"doc-%d" % (i % 9) for i in range(500)])
    ids = np.arange(500, dtype=np.int64)
    rows = page_rows(0, 0, [("text", encode_column(texts, "string")),
                            ("doc_id", encode_column(ids, "int64"))])
    src = tmp_path / "pages"
    src.mkdir()
    pq.write_table(pa.Table.from_batches([rows]), str(src / "part-0.parquet"))

    out = tmp_path / "rewritten"
    r = subprocess.run(
        [sys.executable, "-m", "pq_engine.cli", "rewrite", str(src),
         "--out", str(out), "--columns", "doc_id,text",
         "--mask-column", "text", "--to", "zstd"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr
    conv = tmp_path / "out.parquet"
    r = subprocess.run(
        [sys.executable, "-m", "pq_engine.cli", "to-parquet", str(out),
         "--out", str(conv)],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr
    got = duckdb.sql(
        f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{conv}')"
    ).fetchall()
    assert got == [(500, 9)]  # masked md5 of 9 distinct source texts
    one = duckdb.sql(f"SELECT text FROM read_parquet('{conv}') LIMIT 1").fetchall()[0][0]
    assert len(one) == 32 and all(c in "0123456789abcdef" for c in one)


def test_cli_footer_encrypted(tmp_path, capsys):
    from pq_engine.spark import crypto

    if not crypto.available():
        import pytest

        pytest.skip("no AES backend")
    import json

    from pq_engine.cli import cmd_footer

    key = bytes(range(16))
    blob = crypto.encrypt_footer_manifest([("a", "int64")], key)
    (tmp_path / "schema.enc").write_bytes(blob)

    class A:
        path = str(tmp_path)
        key = bytes(range(16)).hex()

    cmd_footer(A())
    out = json.loads(capsys.readouterr().out)
    assert out["schema"] == {"a": "int64"} and out["encrypted_footer"]


def test_cli_to_parquet_typed_columns(tmp_path):
    import subprocess
    import sys

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_engine.kernels.fixedlen import interval_to_fixed, uuid_strings_to_fixed
    from pq_engine.pages import encode_column
    from pq_engine.pagetable import page_rows

    n = 100
    uuids = [f"{i:08x}-1234-5678-9abc-def012345678" for i in range(n)]
    uuid_rows = uuid_strings_to_fixed(
        np.frombuffer("".join(uuids).encode(), np.uint8).reshape(n, 36)
    )
    iv_rows = interval_to_fixed(
        np.arange(n, dtype=np.int32), np.zeros(n, np.int32), np.full(n, 9, np.int32)
    )
    dec = np.arange(n, dtype=np.int64) * 25  # decimal(10,2) unscaled
    rows = page_rows(0, 0, [("u", encode_column(uuid_rows, "uuid")),
                            ("iv", encode_column(iv_rows, "interval")),
                            ("d", encode_column(dec, "decimal64[10,2]"))])
    src = tmp_path / "pages"
    src.mkdir()
    pq.write_table(pa.Table.from_batches([rows]), str(src / "part-0.parquet"))
    conv = tmp_path / "typed.parquet"
    r = subprocess.run(
        [sys.executable, "-m", "pq_engine.cli", "to-parquet", str(src),
         "--out", str(conv)],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-500:]
    t = duckdb.sql(
        f"SELECT typeof(u), typeof(iv), typeof(d), CAST(d AS VARCHAR) "
        f"FROM read_parquet('{conv}') ORDER BY d LIMIT 1"
    ).fetchone()
    assert t[0] == "UUID" and t[1] == "INTERVAL" and t[2] == "DECIMAL(10,2)"
    assert t[3] == "0.00"
