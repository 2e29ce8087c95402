"""Page-level rewrite operations — the ParquetRewriter analog
(/root/reference/parquet-hadoop/.../hadoop/rewrite/ParquetRewriter.java:99-237:
prune columns, mask (nullify/hash), transcode compression, merge; page-level
copy when possible, decode→re-encode only when semantics require it).

On the page table these become DataFrame ops:
* prune        → a filter on the `column` field — pure metadata, zero decode;
* rename       → a `when` remap of the `column` field — pure metadata;
* transcode    → decode→re-encode only the pages whose compression changes
                 (page-level copy for the rest, exactly the reference rule);
* mask-nullify → replace a column's pages with all-null pages (no decode);
* mask-hash    → decode → md5 → re-encode (value-level rewrite);
* merge        → union of page tables with re-namespaced split ids.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..pages import RAW_COPY_PAGES, ROWRANGES_PAGE, decode_column, encode_column
from .engine import PAGE_SCHEMA


def prune_columns(pages: DataFrame, keep: list[str]) -> DataFrame:
    """Drop whole columns — footer-only rewrite (ParquetRewriter prune)."""
    return pages.filter(F.col("column").isin(keep))


def rename_columns(pages: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename columns — metadata-only rewrite (ParquetRewriter renaming):
    page bytes are untouched, only the `column` field changes. Collisions
    with surviving names raise (the reference validates the same)."""
    existing = {r["column"] for r in pages.select("column").distinct().collect()}
    missing = set(mapping) - existing
    if missing:
        raise ValueError(f"rename of absent column(s): {sorted(missing)}")
    targets = set(mapping.values())
    if len(targets) != len(mapping):
        raise ValueError("rename targets collide with each other")
    clash = targets & (existing - set(mapping))
    if clash:
        raise ValueError(f"rename targets collide with existing column(s): {sorted(clash)}")
    expr = F.col("column")
    for old, new in mapping.items():
        expr = F.when(F.col("column") == old, F.lit(new)).otherwise(expr)
    return pages.withColumn("column", expr)


def merge_page_tables(tables: list[DataFrame]) -> DataFrame:
    """Concatenate encoded tables (ParquetRewriter merge): page-level copy,
    split ids re-namespaced so lineage keys stay unique."""
    out = None
    for i, t in enumerate(tables):
        t = t.withColumn("split_id", (F.col("split_id") + F.lit(i * 1_000_000)).cast("int"))
        out = t if out is None else out.unionByName(t)
    return out


def mask_nullify(pages: DataFrame, column: str) -> DataFrame:
    """Replace a column's values with NULLs, keeping row counts — no decode:
    each page becomes a validity-only page (all-absent)."""

    def rewrite(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels import rle

        # index rows (bloom -1, chunk dict -2) are dropped: a nullified
        # column has no values to index
        out = pdf[pdf["page"] >= 0].copy()
        pdf = out
        blobs = []
        for r in pdf.itertuples():
            validity = np.zeros(int(r.n_rows), dtype=np.uint64)
            blob = bytes([1]) + rle.encode_hybrid_length_prefixed(validity, 1)
            # body: zero non-null values → empty PLAIN body
            blobs.append(blob)
        out["data"] = blobs
        out["codec"] = "plain"
        out["null_count"] = out["n_rows"]
        out["min"] = None
        out["max"] = None
        out["ndv"] = 0
        out["compression"] = "none"
        out["encoded_bytes"] = [len(b) for b in blobs]
        out["crc32"] = [zlib.crc32(b) & 0xFFFFFFFF for b in blobs]
        return out

    target = pages.filter(F.col("column") == column)
    rest = pages.filter(F.col("column") != column)
    rewritten = target.groupBy("split_id", "batch_id").applyInPandas(rewrite, PAGE_SCHEMA)
    return rest.unionByName(rewritten)


def _chunk_pages_from_arrow(tbl) -> list:
    """(meta, blob) pairs of one (split, batch) chunk's page rows, page order,
    dict page (-2) included."""
    import pyarrow.compute as pc

    sub = tbl.filter(pc.greater_equal(tbl["page"], -2)).sort_by("page")
    return [
        (
            {
                "page": sub["page"][i].as_py(),
                "codec": sub["codec"][i].as_py(),
                "ptype": sub["ptype"][i].as_py(),
                "n_rows": sub["n_rows"][i].as_py(),
                "crc32": sub["crc32"][i].as_py(),
                "compression": sub["compression"][i].as_py(),
            },
            sub["data"][i].as_py(),
        )
        for i in range(sub.num_rows)
    ]


def mask_hash(pages: DataFrame, column: str) -> DataFrame:
    """Replace a string/binary column's values with their md5 hex
    (ParquetRewriter mask-hash). Three stages, none with per-row Python
    (r1/r2 'what's wrong' — the hashlib-per-value loop is gone):

    1. decode the masked column's pages to (split, batch, ord, value) rows —
       one vectorized kernel pass per chunk (``applyInArrow``);
    2. hash JVM-side with ``F.md5`` (whole-stage codegen over the raw bytes,
       identical digest to hashlib.md5 on the value bytes);
    3. re-encode the hex digests per chunk and splice the new pages in.

    Costs one extra shuffle of the masked column's VALUES (unavoidable: the
    hash must run between decode and encode); all other columns are
    page-level copied untouched."""
    import pyarrow as pa

    from .engine import _arrow_to_values, _values_to_arrow

    target = pages.filter(F.col("column") == column)
    rest = pages.filter(F.col("column") != column)

    def to_rows(tbl: pa.Table) -> pa.Table:
        chunk = _chunk_pages_from_arrow(tbl)
        data_pages = [p for p in chunk if p[0]["page"] >= 0]
        if data_pages and data_pages[0][0]["ptype"] not in ("string", "binary"):
            raise TypeError(
                f"mask_hash requires a string/binary column; {column!r} is "
                f"{data_pages[0][0]['ptype']} (use mask_nullify)"
            )
        values, validity = decode_column(chunk)
        arr = _values_to_arrow(values, validity, "binary")
        n = len(arr)
        split = tbl["split_id"][0].as_py() if tbl.num_rows else 0
        batch = tbl["batch_id"][0].as_py() if tbl.num_rows else 0
        return pa.table(
            {
                "split_id": pa.array(np.full(n, split, np.int32)),
                "batch_id": pa.array(np.full(n, batch, np.int32)),
                "ord": pa.array(np.arange(n, dtype=np.int64)),
                "v": arr,
            }
        )

    decoded = target.groupBy("split_id", "batch_id").applyInArrow(
        to_rows, "split_id int, batch_id int, ord bigint, v binary"
    )
    hashed = decoded.withColumn("v", F.md5("v"))  # JVM-side, null-safe

    def re_encode(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by("ord")
        arr = tbl["v"].combine_chunks()
        values, validity = _arrow_to_values(arr, "string")
        out_pages = encode_column(values, "string", validity=validity)
        split = tbl["split_id"][0].as_py() if tbl.num_rows else 0
        batch = tbl["batch_id"][0].as_py() if tbl.num_rows else 0
        rows = {k: [] for k in PAGE_SCHEMA.fieldNames()}
        for meta, blob in out_pages:
            rows["split_id"].append(split)
            rows["batch_id"].append(batch)
            rows["column"].append(column)
            rows["page"].append(meta["page"])
            rows["codec"].append(meta["codec"])
            rows["ptype"].append("string")
            rows["first_row"].append(meta["first_row"])
            rows["n_rows"].append(meta["n_rows"])
            rows["null_count"].append(meta["null_count"])
            rows["raw_bytes"].append(meta["raw_bytes"])
            rows["encoded_bytes"].append(meta["encoded_bytes"])
            rows["crc32"].append(meta["crc32"])
            rows["compression"].append(meta["compression"])
            rows["min"].append(meta["min"])
            rows["max"].append(meta["max"])
            rows["ndv"].append(meta["ndv"])
            rows["data"].append(blob)
        from .engine import _PAGE_ARROW

        # applyInArrow verifies types strictly: 'data' must be plain binary
        schema = pa.schema(
            [
                f if f.name != "data" else pa.field("data", pa.binary())
                for f in _PAGE_ARROW
            ]
        )
        return pa.Table.from_pydict(rows, schema=schema)

    rewritten = hashed.groupBy("split_id", "batch_id").applyInArrow(
        re_encode, PAGE_SCHEMA
    )
    return rest.unionByName(rewritten)


def transcode_compression(pages: DataFrame, to: str | None) -> DataFrame:
    """Change page compression (ParquetRewriter trans-compression). Pages
    already in the target codec are copied verbatim (page-level copy rule);
    the rest decompress/recompress WITHOUT value re-encoding."""
    to_label = to or "none"

    def rewrite(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        datas, encs, crcs, comps = [], [], [], []
        for r in pdf.itertuples():
            raw_copy = r.page in (*RAW_COPY_PAGES, ROWRANGES_PAGE)
            comps.append(r.compression if raw_copy else to_label)
            if r.compression == to_label or raw_copy:
                # bloom index rows are raw filter bytes; rowranges/colindex
                # markers are empty (no page framing) — always page-level copied;
                # dict pages (-2) transcode like data pages (same
                # [validity-flag][body] framing)
                datas.append(bytes(r.data))
                encs.append(int(r.encoded_bytes))
                crcs.append(int(r.crc32))
                continue
            blob = bytes(r.data)
            from ..compression import compress as _pc, decompress as _pdc
            from ..pages import split_page_blob

            pos = split_page_blob(blob)  # handles flat, validity AND list layouts
            head, body = blob[:pos], blob[pos:]
            body = _pc(_pdc(body, r.compression), to_label)
            nb = head + body
            datas.append(nb)
            encs.append(len(nb))
            crcs.append(zlib.crc32(nb) & 0xFFFFFFFF)
        out["data"] = datas
        out["encoded_bytes"] = encs
        out["crc32"] = crcs
        out["compression"] = comps
        return out

    return pages.groupBy("split_id", "batch_id").applyInPandas(rewrite, PAGE_SCHEMA)
