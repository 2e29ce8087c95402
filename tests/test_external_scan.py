"""scan_parquet — the engine-level distributed scan over external parquet
(ParquetInputFormat/ParquetFileReader direction): foreign files, pushdown
inside each task, per-file keytools key resolution for encrypted data."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pq_engine.spark.external import list_parquet_files, scan_parquet

MASTER = {"kf": b"0123456789012345", "kc": b"abcdefghijklmnop"}


def _write_plain_dir(tmp_path, n_files=3, rows=400):
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tmp_path / "plain"
    d.mkdir()
    for i in range(n_files):
        base = i * rows
        papq.write_table(
            pa.table({
                "id": pa.array(range(base, base + rows), pa.int64()),
                "tag": pa.array([f"t{j % 5}" for j in range(rows)]),
            }), str(d / f"part-{i}.parquet"), row_group_size=100)
    (d / "_metadata_junk").write_text("skip me")
    return str(d), n_files * rows


def test_list_parquet_files(tmp_path):
    d, _ = _write_plain_dir(tmp_path)
    files = list_parquet_files(d)
    assert len(files) == 3 and all(f.endswith(".parquet") for f in files)
    assert list_parquet_files(files) == files
    assert list_parquet_files(files[0]) == [files[0]]
    with pytest.raises(ValueError, match="no parquet files"):
        list_parquet_files(str(tmp_path))


def test_scan_plain_dir_and_pushdown(spark, tmp_path):
    d, total = _write_plain_dir(tmp_path)
    df = scan_parquet(spark, d)
    assert df.count() == total
    assert df.agg({"id": "sum"}).collect()[0][0] == total * (total - 1) // 2
    # predicate + column pushdown evaluated at the parquet layer per task
    got = scan_parquet(
        spark, d, predicate=("and", ("ge", "id", 150), ("lt", "id", 250)),
        columns=["id"]).collect()
    assert sorted(r["id"] for r in got) == list(range(150, 250))
    assert got[0].asDict().keys() == {"id"}


def test_scan_encrypted_dir_with_master_keys(spark, tmp_path):
    """keytools lifecycle through the API: files encrypted with master
    keys only (external key material side files), scanned distributed —
    executors resolve per-file DEKs from each file's own envelopes."""
    from pq_engine.interop.parquet_keytools import (
        encrypt_parquet_keytools,
        write_key_material_store,
    )
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes

    d = tmp_path / "enc"
    d.mkdir()
    rows, n_files = 500, 3
    for i in range(n_files):
        base = i * rows
        tags = [f"t{j % 5}".encode() for j in range(rows)]
        offs = np.zeros(rows + 1, np.int64)
        for j, s in enumerate(tags):
            offs[j + 1] = offs[j] + len(s)
        plain_path = str(d / f"tmp{i}")
        write_parquet(plain_path, [
            {"name": "id", "ptype": "int64", "codec": "delta",
             "values": np.arange(base, base + rows, dtype=np.int64)},
            {"name": "tag", "ptype": "string", "codec": "plain",
             "values": RaggedBytes(
                 offs, np.frombuffer(b"".join(tags), np.uint8))},
        ], rows, row_group_size=125)
        store: dict = {}
        enc = encrypt_parquet_keytools(
            open(plain_path, "rb").read(), MASTER, "kf", {"tag": "kc"},
            material_store=store)
        os.unlink(plain_path)
        out = str(d / f"part-{i}.pare")
        open(out, "wb").write(enc)
        write_key_material_store(out, store)

    total = rows * n_files
    df = scan_parquet(spark, str(d), master_keys=MASTER)
    assert df.count() == total
    got = scan_parquet(
        spark, str(d), predicate=("lt", "id", 200),
        master_keys=MASTER).collect()
    assert sorted(r["id"] for r in got) == list(range(200))
    assert {r["tag"] for r in got} == {f"t{j}" for j in range(5)}
    # wrong masters refuse inside the task
    bad = {"kf": MASTER["kc"], "kc": MASTER["kf"]}
    with pytest.raises(Exception, match="unwrap failed"):
        scan_parquet(spark, str(d), master_keys=bad).count()


def test_scan_with_explicit_schema_and_empty_result(spark, tmp_path):
    d, _ = _write_plain_dir(tmp_path)
    df = scan_parquet(
        spark, d, predicate=("lt", "id", -1),
        schema="id long, tag string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "tag"]
