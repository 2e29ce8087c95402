"""Page-level rewrite operations — the ParquetRewriter analog
(/root/reference/parquet-hadoop/.../hadoop/rewrite/ParquetRewriter.java:99-237:
prune columns, mask (nullify/hash), transcode compression, merge; page-level
copy when possible, decode→re-encode only when semantics require it).

Each rewrite that touches page rows is written once, as an Arrow function
in :mod:`pq_engine.pagetable`; the CLI (``pq mask``, ``trans-compression``,
``rewrite``) calls the same functions in process, and this module only runs
them on a Spark page table:

* prune        → a filter on the `column` field — pure metadata, zero decode;
* rename       → a `when` remap of the `column` field after
                 ``pagetable.check_rename`` — pure metadata;
* transcode    → ``pagetable.transcode`` per page row under ``mapInArrow``
                 (no shuffle): pages already in the target compression are
                 copied, the rest recompressed, no value decoded;
* mask-nullify → ``pagetable.nullify`` per page row under ``mapInArrow``:
                 each data page becomes an all-null page (no decode);
* mask-hash    → ``pagetable.mask_values`` per chunk, md5 in the JVM,
                 ``pagetable.masked_pages`` per chunk (value-level rewrite);
* merge        → union of page tables with re-namespaced split ids.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import pagetable
from .engine import PAGE_SCHEMA


def map_pages(pages: DataFrame, fn) -> DataFrame:
    """``pages`` with the page-row function ``fn(pa.Table) -> pa.Table``
    applied to each Arrow batch: one ``mapInArrow``, no shuffle."""
    names = PAGE_SCHEMA.fieldNames()

    def run(batches):
        for b in batches:
            yield from fn(pa.Table.from_batches([b])).select(names).to_batches()

    return pages.mapInArrow(run, PAGE_SCHEMA)


def prune_columns(pages: DataFrame, keep: list[str]) -> DataFrame:
    """Drop whole columns — footer-only rewrite (ParquetRewriter prune)."""
    return pages.filter(F.col("column").isin(keep))


def rename_columns(pages: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename columns — metadata-only rewrite (ParquetRewriter renaming):
    page bytes are untouched, only the `column` field changes. Absent
    sources and colliding targets raise ``ValueError``."""
    pagetable.check_rename(
        [r["column"] for r in pages.select("column").distinct().collect()], mapping)
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
    """Replace a column's values with NULLs, keeping row counts — no decode
    (:func:`pq_engine.pagetable.nullify`)."""
    return map_pages(pages, lambda t: pagetable.nullify(t, column))


def mask_hash(pages: DataFrame, column: str) -> DataFrame:
    """Replace a string/binary column's values with their md5 hex
    (ParquetRewriter mask-hash). Three stages, none with per-row Python:

    1. decode the masked column's chunks to (split, batch, ord, value) rows
       (``pagetable.mask_values`` under ``applyInArrow``);
    2. hash JVM-side with ``F.md5`` (whole-stage codegen over the raw bytes,
       identical digest to hashlib.md5 on the value bytes);
    3. re-encode the hex digests per chunk (``pagetable.masked_pages``) and
       splice the new pages in.

    Costs one extra shuffle of the masked column's VALUES (unavoidable: the
    hash must run between decode and encode); all other columns are
    page-level copied untouched."""
    from pyspark.sql.pandas.types import to_arrow_schema

    target = pages.filter(F.col("column") == column)
    rest = pages.filter(F.col("column") != column)
    decoded = target.groupBy("split_id", "batch_id").applyInArrow(
        lambda t: pagetable.mask_values(t, column), "split_id int, batch_id int, ord bigint, v binary"
    )
    hashed = decoded.withColumn("v", F.md5("v"))  # JVM-side, null-safe
    # applyInArrow checks types strictly: its 'data' must be plain binary
    out = to_arrow_schema(PAGE_SCHEMA)
    rewritten = hashed.groupBy("split_id", "batch_id").applyInArrow(
        lambda t: pagetable.masked_pages(t, column).cast(out), PAGE_SCHEMA
    )
    return rest.unionByName(rewritten)


def transcode_compression(pages: DataFrame, to: str | None) -> DataFrame:
    """Change page compression (ParquetRewriter trans-compression). Pages
    already in the target codec are copied verbatim (page-level copy rule);
    the rest are CRC-checked and decompress/recompress WITHOUT value
    re-encoding (:func:`pq_engine.pagetable.transcode`)."""
    return map_pages(pages, lambda t: pagetable.transcode(t, to))
