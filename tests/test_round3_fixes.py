"""Round-3 fixes: ciphertext-only CRC + withheld stats under encryption,
footer-key (PARE analog) manifest encryption + rotation, stable resume keys
for the worker-read job, heterogeneous-schema refusal, distributed split
planning, and the interop writer's list-codec guard."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pq_engine.spark import crypto
from pq_engine.spark.engine import (
    decode_table,
    encode_parquet_files,
    encode_table,
    plan_parquet_splits,
    read_job_ptypes,
    run_encode_files_job,
    table_ptypes,
)

needs_aes = pytest.mark.skipif(not crypto.available(), reason="no AES backend")


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("value-"), (F.col("id") % 37).cast("string")).alias("text"),
    )


# ------------------------------------------------------------------ crypto


@needs_aes
def test_encrypted_pages_hide_plaintext_crc_and_stats(spark):
    import zlib

    df = _docs(spark)
    plain_pages = encode_table(df).filter(F.col("page") >= 0).collect()
    key = bytes(range(16))
    enc_pages = (
        crypto.encrypt_pages(encode_table(df), {"text": key})
        .filter((F.col("column") == "text") & (F.col("page") >= 0))
        .collect()
    )
    plain_crcs = {
        (r["split_id"], r["batch_id"], r["page"]): r["crc32"]
        for r in plain_pages
        if r["column"] == "text"
    }
    for r in enc_pages:
        # crc must cover the ciphertext, not leak a plaintext checksum
        assert r["crc32"] == zlib.crc32(bytes(r["data"])) & 0xFFFFFFFF
        assert r["crc32"] != plain_crcs[(r["split_id"], r["batch_id"], r["page"])]
        assert r["min"] is None and r["max"] is None and r["ndv"] == -1
    # decrypt restores a decodable table (plaintext crc recomputed post-auth)
    dec = crypto.decrypt_pages(
        crypto.encrypt_pages(encode_table(df), {"text": key}), {"text": key}
    )
    back = decode_table(dec, ["doc_id", "text"], ptypes=table_ptypes(df))
    assert back.orderBy("doc_id").collect() == df.orderBy("doc_id").collect()


@needs_aes
def test_footer_manifest_roundtrip_and_auth():
    rows = [("url", "string"), ("warc_ts", "timestamp_us"), ("html", "binary")]
    key = bytes(range(16, 32))
    blob = crypto.encrypt_footer_manifest(rows, key)
    assert blob.startswith(crypto.FOOTER_MAGIC)  # PARE analog magic
    assert crypto.decrypt_footer_manifest(blob, key) == rows
    with pytest.raises(Exception):
        crypto.decrypt_footer_manifest(blob, bytes(16))  # wrong key
    tampered = blob[:-1] + bytes([blob[-1] ^ 1])
    with pytest.raises(Exception):
        crypto.decrypt_footer_manifest(tampered, key)
    with pytest.raises(ValueError):
        crypto.decrypt_footer_manifest(b"PAR1" + blob[6:], key)  # wrong magic


@needs_aes
def test_key_rotation_without_decode(spark):
    df = _docs(spark)
    old, new = bytes(range(16)), bytes(range(16, 32))
    enc = crypto.encrypt_pages(encode_table(df), {"text": old})
    rotated = crypto.rotate_column_keys(enc, {"text": old}, {"text": new})
    # old key no longer decrypts
    with pytest.raises(Exception):
        decode_table(
            crypto.decrypt_pages(rotated, {"text": old}),
            ["doc_id", "text"],
            ptypes=table_ptypes(df),
        ).collect()
    back = decode_table(
        crypto.decrypt_pages(rotated, {"text": new}),
        ["doc_id", "text"],
        ptypes=table_ptypes(df),
    )
    assert back.orderBy("doc_id").collect() == df.orderBy("doc_id").collect()


@needs_aes
def test_job_with_encrypted_footer(spark, tmp_path):
    from pq_engine.spark.engine import run_encode_job

    df = _docs(spark, 300)
    out = str(tmp_path / "job")
    fkey = bytes(range(32))
    run_encode_job(spark, df, out, footer_key=fkey)
    assert os.path.exists(os.path.join(out, "schema.enc"))
    assert not os.path.exists(os.path.join(out, "schema"))
    with pytest.raises(PermissionError):
        read_job_ptypes(spark, out)  # no key → refused, like PARE readers
    ptypes = read_job_ptypes(spark, out, footer_key=fkey)
    assert ptypes == {"doc_id": "int64", "text": "string"}
    pages = spark.read.parquet(os.path.join(out, "pages"))
    back = decode_table(pages, ["doc_id", "text"], ptypes=ptypes)
    assert back.count() == 300


# --------------------------------------------------------- split planning


def _write_inputs(tmp_path, n_files=3, rows=100, extra_col=False):
    paths = []
    for i in range(n_files):
        cols = {
            "id": pa.array(range(i * rows, (i + 1) * rows), pa.int64()),
            "v": pa.array([f"s{j % 11}" for j in range(rows)]),
        }
        if extra_col and i == n_files - 1:
            cols["z"] = pa.array(np.zeros(rows, np.float64))
        p = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(pa.table(cols), p, row_group_size=40)
        paths.append(p)
    return paths


def test_plan_parquet_splits_local_and_distributed(spark, tmp_path):
    files = _write_inputs(tmp_path, n_files=5)
    local = plan_parquet_splits(spark, files, distribute_threshold=64)
    distributed = plan_parquet_splits(spark, files, distribute_threshold=2)
    assert local == distributed
    assert all(n == 3 for _, n in local)  # 100 rows / 40-row groups


def test_plan_refuses_heterogeneous_schema(spark, tmp_path):
    files = _write_inputs(tmp_path, n_files=3, extra_col=True)
    with pytest.raises(ValueError, match="heterogeneous"):
        plan_parquet_splits(spark, files, distribute_threshold=64)
    with pytest.raises(ValueError, match="heterogeneous"):
        plan_parquet_splits(spark, files, distribute_threshold=1)


def test_files_job_resume_refuses_changed_input(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    _write_inputs(indir, n_files=2)
    out = str(tmp_path / "out")
    r1 = run_encode_files_job(spark, str(indir), out)
    assert r1["pages"] > 0
    # unchanged input → resume is a no-op (idempotent), not a duplicate
    r2 = run_encode_files_job(spark, str(indir), out)
    assert r2["pages"] == r1["pages"]
    # a new file shifts the ordinal split ids → resume must refuse
    extra = pa.table({"id": pa.array([1], pa.int64()), "v": pa.array(["x"])})
    pq.write_table(extra, str(indir / "a-new-first.parquet"), row_group_size=40)
    with pytest.raises(ValueError, match="cannot resume"):
        run_encode_files_job(spark, str(indir), out)


@pytest.mark.parametrize("n_files, rows, row_group_rows", [
    (4, 100, 40),  # 12 row groups on 8 cores: whole row groups
    (1, 1000, 1000),  # one row group of 10 batches: cut into batch ranges
    (1, 1200, 400),  # 3 row groups of 4 batches on 8 cores: cut
])
def test_encode_parquet_files_distributed_plan_matches(spark, tmp_path, n_files, rows,
                                                       row_group_rows):
    """A plain call, which cuts row groups into batch ranges when there are
    fewer than cores, gives the same page rows, every field, as a call with
    a split plan, which encodes each row group whole in one task."""
    files = []
    for i in range(n_files):
        ids = np.arange(i * rows, (i + 1) * rows)
        files.append(str(tmp_path / f"part-{i}.parquet"))
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "v": pa.array([None if j % 13 == 0 else f"s{j % 11}" for j in ids]),
        }), files[-1], row_group_size=row_group_rows)

    def page_rows(**kw):
        df = encode_parquet_files(spark, str(tmp_path), batch_rows=100, **kw)
        return [tuple(r) for r in df.orderBy("split_id", "batch_id", "column", "page").collect()]

    plan = plan_parquet_splits(spark, files, distribute_threshold=1)
    assert page_rows() == page_rows(split_plan=plan)


# ------------------------------------------------------------- interop guard


def test_interop_writer_rejects_list_codec(tmp_path):
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.nested import ListColumn

    lc = ListColumn(
        np.array([0, 2, 4], np.int64), None,
        np.arange(4, dtype=np.int64), None,
    )
    with pytest.raises(ValueError, match="codec"):
        write_parquet(
            str(tmp_path / "x.parquet"),
            [{"name": "l", "ptype": "list<int64>", "codec": "delta", "values": lc}],
            2,
        )


# ------------------------------------------------- r3 self-review regressions


@needs_aes
def test_encrypted_metadata_rows_restored(spark):
    """Self-review #1: colindex/geostats payloads are encrypted (not
    destroyed) and restored on decrypt; bbox pruning still works after an
    encrypt/decrypt cycle and keeps every chunk while encrypted."""
    import numpy as np

    from pq_engine.pipeline.geo import wkb_point_column
    from pq_engine.spark.engine import prune_pages_by_bbox

    df = spark.range(1000).select(
        "id", (F.col("id") % 10).cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    geo = wkb_point_column(df, "x", "y").select("id", "geom").repartition(2)
    pages = encode_table(geo, ptype_overrides={"geom": "geometry"})
    key = bytes(range(16))
    enc = crypto.encrypt_pages(pages, {"geom": key})
    # while encrypted: bbox hidden, pruning conservatively keeps all chunks
    enc_geo_rows = enc.filter(F.col("page") == -5).collect()
    assert all(r["min"] is None for r in enc_geo_rows)
    kept = prune_pages_by_bbox(enc, "geom", 1000, 1000, 2000, 2000)
    assert kept.count() == enc.count()  # cannot disprove without the key
    # after decrypt: bbox restored, pruning disproves again
    dec = crypto.decrypt_pages(enc, {"geom": key})
    dec_geo = dec.filter(F.col("page") == -5).collect()
    assert all(r["min"] is not None and "xmin" in r["min"] for r in dec_geo)
    assert prune_pages_by_bbox(dec, "geom", 1000, 1000, 2000, 2000).count() == 0
    # and the data still decodes bit-identically
    ptypes = {"id": "int64", "geom": "geometry"}
    back = decode_table(dec, ["id", "geom"], ptypes=ptypes)
    assert back.orderBy("id").collect() == geo.orderBy("id").collect()


def test_list_of_fixed_children_dict(spark):
    """Self-review #2: fixed-kernel list children (list<fixed[8]>) encode
    through fixed_stats/factorize_fixed instead of crashing."""
    import numpy as np

    from pq_engine.nested import ListColumn, encode_list_column
    from pq_engine.pages import decode_column

    n = 300
    rows = np.tile(np.arange(3 * 8, dtype=np.uint8).reshape(3, 8), (n, 1))
    col = ListColumn(np.arange(n + 1, dtype=np.int64) * 3, None, rows, None)
    for codec in ("auto", "dict", "plain"):
        pages = encode_list_column(col, "list<fixed[8]>", codec=codec, page_rows=100)
        back, _ = decode_column(pages)
        assert np.array_equal(back.child_values, rows), codec
    assert {m["codec"] for m, _ in pages} == {"plain", "sizestats"}  # explicit plain honored


def test_geometry_bloom_and_dict_probe(spark):
    """Self-review #3: bloom + dictionary pushdown work for geometry columns."""
    import numpy as np

    from pq_engine.pipeline.geo import points_to_wkb
    from pq_engine.spark.engine import prune_pages_by_bloom, prune_pages_by_dictionary

    wkbs = points_to_wkb(
        np.arange(4, dtype=np.float64), np.arange(4, dtype=np.float64)
    ).to_pylist()
    df = spark.createDataFrame(
        [(i, wkbs[i % 4]) for i in range(800)], "id long, geom binary"
    ).repartition(2)
    pages = encode_table(
        df, ptype_overrides={"geom": "geometry"},
        codec={"geom": "dict", "id": "auto"}, with_bloom=True,
    )
    absent = points_to_wkb(np.array([99.0]), np.array([99.0]))[0]
    assert prune_pages_by_bloom(pages, "geom", absent).count() == 0
    assert prune_pages_by_dictionary(pages, "geom", absent).count() == 0
    present = wkbs[1]
    assert prune_pages_by_bloom(pages, "geom", present).count() == pages.count()
    assert prune_pages_by_dictionary(pages, "geom", present).count() == pages.count()


def test_derive_order_requires_both_bounds():
    """Self-review #4: overlapping pages (mins sorted, maxs not) must not be
    labeled ASCENDING — the binary search would miss hits."""
    from pq_engine.cli import _derive_order, locate_value_pages

    mins, maxs = [1, 2], [10, 3]
    assert _derive_order(mins, maxs) == "UNORDERED"
    assert locate_value_pages(mins, maxs, 7, "UNORDERED") == [0]
    assert _derive_order([1, 2], [3, 10]) == "ASCENDING"


def test_cli_parse_value_decimal64():
    """Self-review #5: decimal64 stats compare as unscaled ints in the CLI."""
    from pq_engine.cli import _parse_value, locate_value_pages

    mins = [_parse_value(v, "decimal64[10,2]") for v in ("5", "20", "400")]
    maxs = [_parse_value(v, "decimal64[10,2]") for v in ("15", "40", "500")]
    probe = _parse_value("7", "decimal64[10,2]")
    assert locate_value_pages(mins, maxs, probe, "ASCENDING") == [0]


def test_check_stats_nan_pages(capsys):
    """Self-review #6: NaN-bearing float pages are not flagged corrupt."""
    import numpy as np
    import pyarrow as pa

    from pq_engine.cli import cmd_check_stats
    from pq_engine.pages import encode_column
    from pq_engine.pagetable import page_rows

    vals = np.array([1.0, 2.0, np.nan, 3.0] * 50, dtype=np.float64)
    rows = page_rows(0, 0, [("f", encode_column(vals, "float64", page_rows=40))])
    cmd_check_stats(pa.Table.from_batches([rows]), None)
    assert "stats OK" in capsys.readouterr().out


@needs_aes
def test_footer_variant_switch(spark, tmp_path):
    """Self-review #8: re-running a job without (or with) the footer key
    must not leave a stale manifest of the other kind shadowing the new one."""
    from pq_engine.spark.engine import run_encode_job

    df = _docs(spark, 100)
    out = str(tmp_path / "job")
    fkey = bytes(range(16))
    run_encode_job(spark, df, out, footer_key=fkey)
    assert os.path.exists(os.path.join(out, "schema.enc"))
    run_encode_job(spark, df, out)  # plaintext re-run of the same out_dir
    assert not os.path.exists(os.path.join(out, "schema.enc"))
    assert read_job_ptypes(spark, out) == {"doc_id": "int64", "text": "string"}
