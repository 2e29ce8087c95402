"""The distributed encode/decode engine.

Write path (SURVEY.md §3.1 mapping): Spark repartitions (optionally salted for
hot-domain skew), ``mapInArrow`` hands each worker Arrow record batches of
~``maxRecordsPerBatch`` rows (≈ a parquet page row target), the pages layer
slices/encodes per column, and each page becomes one output row
``(split_id, batch_id, column, page, codec, …stats…, data)``. The manifest
fields double as the north-rule lineage record; ``run_encode_job`` checkpoints
per-split lineage and resumes idempotently via an anti-join on completed
splits (the distribution unit, like ParquetInputFormat's splits ≈ row groups).

Equivalent reference entry points: ParquetWriter.write → InternalParquetRecordWriter
(/root/reference/parquet-hadoop/.../ParquetWriter.java:430,
 InternalParquetRecordWriter.java:156-218) and ParquetOutputFormat for the
distribution boundary.
"""

from __future__ import annotations

import itertools
import os
import zlib
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import pagetable
from ..kernels.ragged import RaggedBytes
from ..memtune import tune_allocator
from ..pagetable import _arrow_to_values, _values_to_arrow
from ..pages import (
    BLOOM_CODEC,
    BLOOM_PAGE,
    DICT_PAGE,
    ENCRYPTED_SUFFIX,
    GEO_PAGE,
    PAGE_BYTES,
    PAGE_ROWS,
    RAGGED_TYPES,
    ROWRANGES_PAGE,
    decode_column,
    encode_column,
)

# ---------------------------------------------------------------- schema

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("ptype", T.StringType(), False),
        T.StructField("first_row", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("null_count", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        T.StructField("crc32", T.LongType(), False),
        T.StructField("compression", T.StringType(), False),
        T.StructField("min", T.StringType(), True),
        T.StructField("max", T.StringType(), True),
        T.StructField("ndv", T.LongType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)

def spark_type_to_ptype(dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_to_ptype(dt.elementType)}>"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp_ntz_us"  # distinct ptype: decode restores NTZ, not LTZ
    if isinstance(dt, T.TimestampType):
        return "timestamp_us"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date32"  # distinct from int32: decode restores DateType
    if isinstance(dt, T.DecimalType):
        if dt.precision <= 18:
            # unscaled int64 physical mapping (LogicalTypeAnnotation
            # DecimalLogicalTypeAnnotation; int32/int64-backed decimals)
            return f"decimal64[{dt.precision},{dt.scale}]"
        # wide decimals ride FIXED_LEN_BYTE_ARRAY as minimal-width big-endian
        # unscaled bytes (LogicalTypeAnnotation.java:547, FLBA-backed widths)
        return f"decimal_flba[{dt.precision},{dt.scale}]"
    raise TypeError(f"unsupported Spark type for encoding: {dt}")


def ptype_to_spark_type(ptype: str) -> T.DataType:
    if ptype.startswith("list<"):
        return T.ArrayType(ptype_to_spark_type(ptype[5:-1]))
    if ptype.startswith("decimal64["):
        p, sc = map(int, ptype[10:-1].split(","))
        return T.DecimalType(p, sc)
    if ptype.startswith("decimal_flba["):
        p, sc = map(int, ptype[13:-1].split(","))
        return T.DecimalType(p, sc)
    if ptype.startswith("fixed["):
        return T.BinaryType()
    return {
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        "float32": T.FloatType(),
        "float64": T.DoubleType(),
        "timestamp_us": T.TimestampType(),
        "timestamp_ntz_us": T.TimestampNTZType(),
        "date32": T.DateType(),
        "bool": T.BooleanType(),
        # Spark carriers of the FLBA logical types (Spark has no native
        # UUID / half / INT96 types — same carriers pyarrow↔pandas use)
        "uuid": T.StringType(),
        "float16": T.FloatType(),
        "int96_ts": T.TimestampType(),
        "interval": T.StructType([
            T.StructField("months", T.IntegerType()),
            T.StructField("days", T.IntegerType()),
            T.StructField("millis", T.IntegerType()),
        ]),
        "geometry": T.BinaryType(),  # WKB carrier
        "geography": T.BinaryType(),  # WKB carrier (geodesic edges)
    }[ptype]


# ---------------------------------------------------------------- encode


BLOOM_MAX_VALUE_LEN = 64  # bloom only for lookup-sized values (reference:
# blobs aren't bloom candidates; AdaptiveBlockSplitBloomFilter targets ids/keys)


def _encode_arrow_batch(
    batch: pa.RecordBatch,
    cols: list[str],
    ptypes: dict[str, str],
    codec_of,
    split: int,
    bi: int,
    page_rows: int,
    page_bytes: int,
    page_compression: str | None,
    with_bloom: bool,
) -> pa.RecordBatch:
    """Encode one Arrow batch into page-table rows — the worker-side core
    shared by encode_table (JVM-fed batches) and encode_parquet_files
    (worker-side parquet reads)."""
    columns = []
    for name in cols:
        ptype = ptypes[name]
        arr = batch.column(batch.schema.get_field_index(name))
        values, validity = _arrow_to_values(arr, ptype)
        pages = []
        if with_bloom:
            from ..kernels.bloom import BlockSplitBloomFilter, optimal_num_bytes, plain_hashes

            # the spec's bloom hash, XxHash64 of each value's PLAIN bytes;
            # no bloom for bool or list columns, nor for byte values longer
            # than lookup keys on average
            long_bytes = isinstance(values, RaggedBytes) and not (
                len(values) and values.lengths.mean() <= BLOOM_MAX_VALUE_LEN)
            hashes = None if long_bytes else plain_hashes(values)
            if hashes is not None and len(hashes):
                # adaptive sizing: size to OBSERVED ndv, not row count
                # (AdaptiveBlockSplitBloomFilter.java:40-100 semantics —
                # exact ndv is one np.unique here instead of the
                # reference's candidate ladder)
                bf = BlockSplitBloomFilter(optimal_num_bytes(len(np.unique(hashes)), 0.01))
                bf.insert_hashes(hashes)
                blob = bf.serialize()
                # a chunk-index row, not a data page
                pages.append(({
                    "page": BLOOM_PAGE, "codec": BLOOM_CODEC, "ptype": ptype, "first_row": -1,
                    "n_rows": len(hashes), "null_count": 0, "raw_bytes": 0,
                    "encoded_bytes": len(blob), "crc32": zlib.crc32(blob),
                    "compression": "none", "min": None, "max": None, "ndv": -1,
                }, blob))
        pages += encode_column(
            values,
            ptype,
            validity=validity,
            codec=codec_of(name),
            page_rows=page_rows,
            page_bytes=page_bytes,
            page_compression=page_compression,
        )
        columns.append((name, pages))
    return pagetable.page_rows(split, bi, columns)


def _codec_of(codec):
    return (lambda c: codec.get(c, "auto")) if isinstance(codec, dict) else (lambda c: codec)


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    codec: str | dict[str, str] = "auto",
    page_rows: int = PAGE_ROWS,
    page_bytes: int = PAGE_BYTES,
    page_compression: str | None = None,
    split_col: str | None = None,
    with_bloom: bool = False,
    ptype_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """Encode ``columns`` (default: all supported) of ``df`` into a page table.

    Runs as one mapInArrow pass — no shuffle beyond whatever partitioning the
    caller set up (use :func:`repartition_for_encode` for skew control).
    ``split_col``: optional int column carrying a stable split id (used by the
    resumable job so ids survive the resume anti-join's reshuffle); when
    absent the task partition id is used.

    ``codec``: one codec name for every column, or a per-column override map
    {column: codec} with "auto" for unlisted columns — the reference's
    per-column writer configuration (ParquetProperties.Builder
    withDictionary(path, bool) / encoding overrides).

    ``ptype_overrides``: logical-type annotations Spark's schema can't carry
    (the reference's LogicalTypeAnnotation on a physical type): a string
    column may be declared ``uuid`` (stored FLBA(16)), a float column
    ``float16`` (FLBA(2)), a timestamp column ``int96_ts`` (legacy INT96),
    a binary column ``fixed[k]``."""
    cols = columns or [f.name for f in df.schema.fields if f.name != split_col]
    # overrides resolve BEFORE schema derivation: an overridden column's
    # Spark type may be un-derivable on its own (e.g. the INTERVAL struct
    # carrier)
    ptypes = {
        f.name: (
            ptype_overrides[f.name]
            if ptype_overrides and f.name in ptype_overrides
            else spark_type_to_ptype(f.dataType)
        )
        for f in df.schema.fields
        if f.name in cols
    }
    codec_of = _codec_of(codec)

    def encode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        from pyspark import TaskContext

        task_split = TaskContext.get().partitionId() if TaskContext.get() else -1
        for bi, batch in enumerate(it):
            if split_col is not None:
                split = int(batch.column(batch.schema.get_field_index(split_col))[0].as_py())
            else:
                split = task_split
            yield _encode_arrow_batch(
                batch, cols, ptypes, codec_of, split, bi,
                page_rows, page_bytes, page_compression, with_bloom,
            )

    # Arrow-stage fusion: when ``df`` is the direct output of one of our own
    # mapInArrow producers (it carries ``_pq_fuse = (input plan, batch fn)``),
    # compose the two batch functions into ONE mapInArrow. Between two
    # separate Python map stages Spark materializes InternalRows and pays a
    # full Python->JVM->Python round trip of the table bytes; composition
    # keeps the batches inside a single Python worker. Semantics are
    # unchanged (same batches through the same encode, same partitioning,
    # same TaskContext partition ids).
    fuse = getattr(df, "_pq_fuse", None)
    if fuse is not None:
        in_plan, produce = fuse

        def fused(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            return encode_batches(produce(it))

        return in_plan.mapInArrow(fused, PAGE_SCHEMA)
    return df.mapInArrow(encode_batches, PAGE_SCHEMA)


def arrow_type_to_ptype(t: pa.DataType) -> str:
    """Arrow-schema → ptype map for worker-side parquet reads (no Spark
    schema in the loop)."""
    import pyarrow.types as pt

    if pt.is_large_string(t) or pt.is_string(t):
        return "string"
    if pt.is_large_binary(t) or pt.is_binary(t):
        return "binary"
    if pt.is_int32(t):
        return "int32"
    if pt.is_int64(t):
        return "int64"
    if pt.is_float32(t):
        return "float32"
    if pt.is_float64(t):
        return "float64"
    if pt.is_timestamp(t):
        return "timestamp_us" if t.tz is not None else "timestamp_ntz_us"
    if pt.is_date32(t):
        return "date32"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_decimal(t):
        if t.precision <= 18:
            return f"decimal64[{t.precision},{t.scale}]"
        return f"decimal_flba[{t.precision},{t.scale}]"
    if pt.is_fixed_size_binary(t):
        return f"fixed[{t.byte_width}]"
    if pt.is_float16(t):
        return "float16"
    if pt.is_list(t) or pt.is_large_list(t):
        return f"list<{arrow_type_to_ptype(t.value_type)}>"
    raise TypeError(f"unsupported arrow type for encoding: {t}")


def _list_parquet_files(input_path: str) -> list[str]:
    import glob as _glob
    import os as _os

    if _os.path.isdir(input_path):
        files = sorted(_glob.glob(_os.path.join(input_path, "*.parquet")))
    else:
        files = [input_path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {input_path}")
    return files


_SERIAL_FOOTERS = 256


def plan_parquet_splits(
    spark: SparkSession,
    files: list[str],
    distribute_threshold: int = _SERIAL_FOOTERS,
) -> list[tuple[str, int]]:
    """Enumerate (path, num_row_groups) for every input file — the split
    planning step of the ParquetInputFormat model. Footer reads are
    DISTRIBUTED past ``distribute_threshold`` files: a tiny mapInArrow job
    over the path list reads each footer in a task, so planning a 10^5-file
    input costs one short parallel job instead of a serial driver loop with
    one hot storage client (VERDICT r2 'what's wrong' #2). Every file's
    schema is verified equal to the first file's; a heterogeneous directory
    raises instead of silently mis-decoding (ADVICE r2).

    Threshold calibration (BENCH/BASELINE.md §7.8): per-footer LATENCY is
    what decides, not count. On this host's warm local fs a serial loop
    reads 2000 footers in 0.08 s while the Spark job costs ~1.5 s of fixed
    overhead — serial wins locally at any realistic count. Against object
    storage (~20-50 ms/footer round-trip) serial costs minutes at 10^4
    files and the distributed job is the only viable shape; the default
    threshold assumes footers beyond a few hundred mean a real store."""
    import pyarrow.parquet as pq

    fp0 = str(pq.read_schema(files[0]))
    if len(files) <= distribute_threshold:
        infos = []
        for f in files:
            pf = pq.ParquetFile(f)
            if str(pf.schema_arrow) != fp0:
                raise ValueError(
                    f"heterogeneous input: {f} schema differs from {files[0]}"
                )
            infos.append((f, pf.metadata.num_row_groups))
        return infos

    def read_footers(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as _pq

        for b in it:
            paths = b.column(0).to_pylist()
            rgs, fps = [], []
            for p in paths:
                pf = _pq.ParquetFile(p)
                rgs.append(pf.metadata.num_row_groups)
                fps.append(str(pf.schema_arrow))
            yield pa.RecordBatch.from_pydict(
                {"path": paths, "n_rgs": rgs, "fp": fps},
                schema=pa.schema(
                    [("path", pa.string()), ("n_rgs", pa.int32()), ("fp", pa.string())]
                ),
            )

    n_tasks = min(len(files), spark.sparkContext.defaultParallelism * 4)
    rows = (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(n_tasks)
        .mapInArrow(read_footers, "path string, n_rgs int, fp string")
        .collect()
    )
    by_path = {r["path"]: r for r in rows}
    bad = [p for p in files if by_path[p]["fp"] != fp0]
    if bad:
        raise ValueError(
            f"heterogeneous input: {len(bad)} file(s) differ from {files[0]} "
            f"schema (first: {bad[0]})"
        )
    return [(f, int(by_path[f]["n_rgs"])) for f in files]


def _pack_runs(weights: list[int], n_tasks: int) -> list[tuple[int, int]]:
    """``min(len(weights), n_tasks)`` contiguous, non-empty runs ``[lo, hi)``
    of the units ``0 .. len(weights) - 1``, balanced by weight: run j ends at
    the first unit whose cumulative weight reaches (j + 1) / T of the total."""
    n = len(weights)
    t = min(n, n_tasks)
    cum = np.cumsum(weights, dtype=np.int64)
    bounds = [0]
    for j, b in enumerate(np.searchsorted(cum * t, cum[-1] * np.arange(1, t)) + 1, 1):
        bounds.append(int(min(max(b, bounds[-1] + 1), n - t + j)))
    bounds.append(n)
    return list(zip(bounds[:-1], bounds[1:]))


def _map_runs(
    spark: SparkSession,
    units: list,
    weights: list[int],
    fn: Callable[[list], Iterator[pa.RecordBatch]],
    schema: T.StructType,
) -> DataFrame:
    """``fn(run)`` over contiguous runs of ``units``, one task per run and at
    most ``defaultParallelism`` runs, balanced by ``weights``
    (:func:`_pack_runs`). The leaf is ``spark.range(0, T, 1, T)``, one row
    per partition, and a task looks its run up by that row's ``id`` in the
    runs this closure carries: the plan holds no literal columns and no
    Exchange, and each task pays the fixed cost of a task once for its run."""
    par = spark.sparkContext.defaultParallelism
    runs = [units[lo:hi] for lo, hi in _pack_runs(weights, par)]

    def task(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            for i in b.column(0).to_pylist():
                yield from fn(runs[i])

    return spark.range(0, len(runs), 1, len(runs)).mapInArrow(task, schema)


def encode_parquet_files(
    spark: SparkSession,
    input_path: str,
    columns: list[str] | None = None,
    codec: str | dict[str, str] = "auto",
    page_rows: int = PAGE_ROWS,
    page_bytes: int = PAGE_BYTES,
    page_compression: str | None = None,
    with_bloom: bool = False,
    batch_rows: int = 65_536,
    exclude_splits: set[int] | None = None,
    split_plan: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Encode parquet files with WORKER-SIDE reads: each task opens its own
    files with pyarrow's C++ reader and encodes their ``batch_rows`` batches
    in place, so no row crosses the JVM→Python Arrow transport (on this
    engine's 4-core host that transport cost more than the encode itself,
    BENCH/BASELINE.md §2). At cluster scale it is also the natural shape:
    every executor reads its own splits from object storage.

    A split is one row group (ParquetInputFormat: splits ≈ row groups),
    numbered across ``split_plan`` (default: :func:`plan_parquet_splits`),
    and ``exclude_splits`` drops splits by id. The splits go to at most
    ``defaultParallelism`` tasks (:func:`_map_runs`), each a contiguous run
    balanced by the rows in the footers. With fewer row groups than cores,
    a plain call makes each batch its own unit, so a row group is shared
    by several tasks; ``(split_id, batch_id)`` numbering and every batch
    boundary stay those of the whole row group, so the page rows are the
    same. A call with ``split_plan`` or ``exclude_splits`` (the resumable
    :func:`run_encode_files_job`) encodes every split whole inside one
    task. A task reads each row group it touches once, from the first
    batch of its run to the last.

    Timestamps are read as their parquet logical type (isAdjustedToUTC →
    timestamp_us, else timestamp_ntz_us)."""
    import pyarrow.parquet as pq

    files = _list_parquet_files(input_path)
    schema = pq.read_schema(files[0])
    cols = columns or [n for n in schema.names]
    ptypes = {n: arrow_type_to_ptype(schema.field(n).type) for n in cols}
    codec_of = _codec_of(codec)

    plan = split_plan if split_plan is not None else plan_parquet_splits(spark, files)
    splits = []
    sid = 0
    for f, n_rgs in plan:
        for rg in range(n_rgs):
            if not exclude_splits or sid not in exclude_splits:
                splits.append((sid, f, rg))
            sid += 1
    if not splits:
        return spark.createDataFrame([], PAGE_SCHEMA)
    # Row counts come from footers read serially in this process, up to the
    # file count plan_parquet_splits also reads serially; past it, every row
    # group weighs one and none is cut.
    rows = None
    if len(plan) <= _SERIAL_FOOTERS:
        rows = {}
        for f, _ in plan:
            md = pq.read_metadata(f)
            rows.update(((f, rg), md.row_group(rg).num_rows) for rg in range(md.num_row_groups))
    cut = (rows is not None and split_plan is None and exclude_splits is None
           and len(splits) < spark.sparkContext.defaultParallelism)
    units, weights = [], []
    for sid, f, rg in splits:
        n = 1 if rows is None else rows[(f, rg)]
        if cut:
            for bi in range(max(1, -(-n // batch_rows))):
                units.append((sid, f, rg, bi, bi + 1))
                weights.append(min(batch_rows, n - bi * batch_rows))
        else:
            units.append((sid, f, rg, 0, 1 << 30))
            weights.append(n)

    def encode_run(run: list) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        import pyarrow.parquet as _pq

        for (split, path, rg), parts in itertools.groupby(run, key=lambda u: u[:3]):
            parts = list(parts)
            lo, hi = parts[0][3], parts[-1][4]
            # One thread: a Spark task is one core, and pyarrow's pool per
            # worker would oversubscribe the cores. Keep this with
            # get_spark's system memory pool for workers: each alone made
            # encode slower. On 4 cores, perfbench webpages encode_mbps over
            # three seeds was 1409-1492 with neither, 1233-1297 with
            # use_threads=False alone, 1160-1189 with the system pool alone,
            # 1588-1677 with both (session.py).
            batches = _pq.ParquetFile(path).iter_batches(
                batch_size=batch_rows, columns=cols, row_groups=[rg], use_threads=False
            )
            for bi, batch in enumerate(itertools.islice(batches, hi)):
                if bi >= lo:
                    yield _encode_arrow_batch(
                        batch, cols, ptypes, codec_of, split, bi,
                        page_rows, page_bytes, page_compression, with_bloom,
                    )
                del batch
            # The reader holds its last batch too. Drop it with ``batch``
            # before the next row group's read, so a task holds one source
            # batch at a time however many row groups its run has.
            del batches

    return _map_runs(spark, units, weights, encode_run, PAGE_SCHEMA)


def repartition_for_encode(
    df: DataFrame,
    num_partitions: int,
    key: str | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """Deterministic repartition with optional key-salting for hot-key skew
    (north rule: 'skew handled explicitly'). With ``salt_buckets > 1`` a hot
    key (e.g. one domain with 10^9 pages) spreads over that many partitions;
    the salt is a stable hash of all columns, so retries are deterministic."""
    if key is None:
        return df.repartition(num_partitions)
    parts = [F.col(key)]
    if salt_buckets > 1:
        parts.append(F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)))
    return df.repartition(num_partitions, *parts)


def roundtrip_column(
    df: DataFrame,
    value_col: str,
    codec: str = "auto",
    page_rows: int = PAGE_ROWS,
    ptype: str | None = None,
) -> DataFrame:
    """Encode ``value_col`` with ``codec`` and decode it back, inside one
    mapInArrow pass, leaving every other column untouched. The returned frame
    has the same schema as the input — equality with the input IS the
    bit-identity proof for that codec (driven against the DuckDB oracle by
    __spark_entry__). ``ptype`` overrides the schema-derived ptype for
    logical annotations Spark can't express (uuid / float16 / int96_ts /
    fixed[k])."""
    field_idx = df.schema.fieldNames().index(value_col)
    if ptype is None:
        ptype = spark_type_to_ptype(df.schema.fields[field_idx].dataType)
    arrow_schema = None

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        for batch in it:
            arr = batch.column(field_idx)
            values, validity = _arrow_to_values(arr, ptype)
            pgs = encode_column(values, ptype, validity=validity, codec=codec, page_rows=page_rows)
            vals2, valid2 = decode_column(pgs)
            if validity is not None and valid2 is None:
                valid2 = np.ones(len(validity), dtype=bool)
            arr2 = _values_to_arrow(vals2, valid2, ptype).cast(arr.type)
            cols = [batch.column(i) if i != field_idx else arr2 for i in range(batch.num_columns)]
            yield pa.RecordBatch.from_arrays(cols, schema=batch.schema)

    return df.mapInArrow(fn, df.schema)


# ---------------------------------------------------------------- decode


def table_ptypes(df: DataFrame, columns: list[str] | None = None) -> dict[str, str]:
    """(column → ptype) map of an input table — pass to :func:`decode_table`
    so decode never needs a metadata-discovery job over the page table."""
    return {
        f.name: spark_type_to_ptype(f.dataType)
        for f in df.schema.fields
        if columns is None or f.name in columns
    }


_RETURN_BATCH_BYTES = 8 << 20


def _bounded_batches(tbl: pa.Table) -> pa.Table:
    """``tbl`` cut into record batches of at most ``_RETURN_BATCH_BYTES``
    each, rows and order kept; a batch is larger only when it is one row
    larger than that. Rows per batch come from the table's ``nbytes``, and a
    slice still over the bound (rows of uneven size) is halved until it
    fits. A table under the bound is returned as it is.

    pyspark hands the JVM each batch of a returned table as one Arrow
    message. A decoded 25k-row ``webpages`` chunk is ~100 MB; on 4 cores, 8
    such tasks into a noop sink took 0.296 s as one batch per task and
    0.209-0.212 s as 4-25 batches per task."""
    bound = _RETURN_BATCH_BYTES
    if tbl.nbytes <= bound:
        return tbl
    step = max(1, tbl.num_rows * bound // tbl.nbytes)
    out = []

    def add(b: pa.RecordBatch) -> None:
        if b.num_rows > 1 and b.nbytes > bound:
            half = b.num_rows // 2
            add(b.slice(0, half))
            add(b.slice(half))
        else:
            out.append(b)

    for batch in tbl.to_batches():
        for lo in range(0, batch.num_rows, step):
            add(batch.slice(lo, step))
    return pa.Table.from_batches(out, schema=tbl.schema)


# Executed-plan nodes of a parquet scan with its filters and projections:
# the only leaves whose partitions :func:`_chunk_local` can read off footers.
_SCAN_NODES = frozenset({
    "FileSourceScanExec", "FilterExec", "ProjectExec", "ColumnarToRowExec",
    "WholeStageCodegenExec", "InputAdapter",
})


def _plan_nodes(plan) -> Iterator:
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _key_attrs(plan) -> set[tuple[str, int]]:
    """The (name, exprId) of a plan node's split_id and batch_id outputs."""
    out = plan.output()
    attrs = (out.apply(i) for i in range(out.size()))
    return {(a.name(), a.exprId().id()) for a in attrs if a.name() in ("split_id", "batch_id")}


def _chunk_boxes(path: str) -> list[tuple[int, int, int, int]] | None:
    """The (split_id min, max, batch_id min, max) of every non-empty row
    group of a page-table file, from its footer; None when a row group
    lacks either statistic."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
    boxes = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        box = []
        for name in ("split_id", "batch_id"):
            st = rg.column(idx[name]).statistics if name in idx else None
            if st is None or not st.has_min_max:
                return None
            box += [st.min, st.max]
        boxes.append(tuple(box))
    return boxes


def _disjoint(boxes: list[tuple[int, int, int, int]]) -> bool:
    """No two (split_id, batch_id) boxes share a key: a sweep in split_id
    order that compares each box with those whose split_id ranges reach it."""
    boxes = sorted(boxes)
    for i, (s0, s1, b0, b1) in enumerate(boxes):
        for t0, _, c0, c1 in boxes[i + 1:]:
            if t0 > s1:
                break
            if c0 <= b1 and b0 <= c1:
                return False
    return True


def _chunk_local(pages_df: DataFrame) -> bool:
    """Whether a decode can map ``pages_df``'s own partitions: every
    (split_id, batch_id) chunk lies whole in one of them, and there are as
    many of them as a shuffle would give. Proved on the driver from the
    executed plan and the parquet footers, with no Spark job; any doubt
    is False.

    - The plan is a parquet scan under filters and projections
      (:data:`_SCAN_NODES`), or an empty local relation, which is what
      :func:`select_chunks` of no key folds to. Its split_id and batch_id
      are the scan's own columns, not expressions the footers do not see.
    - The scan reads at most ``_SERIAL_FOOTERS`` local files.
    - No two row groups' (split_id, batch_id) min/max boxes overlap. Spark
      never splits a row group across partitions, so each chunk is read by
      one task.
    - There are ``defaultParallelism`` files or more, or each file holds
      one chunk key: otherwise a shuffle spreads the chunks over more
      tasks than the scan has. A one-file table of many chunks fails here.

    The outputs of :func:`run_encode_job` (``partitionBy("column")``) fail
    the box test: each column directory spans the same keys."""
    from urllib.parse import unquote, urlparse

    try:
        # a new Dataset plans afresh, as the decode's will: an earlier plan of
        # ``pages_df`` itself would not show a cache made since
        plan = pages_df.select("*")._jdf.queryExecution().executedPlan()
        nodes = list(_plan_nodes(plan))
        names = {n.getClass().getSimpleName() for n in nodes}
        if names == {"LocalTableScanExec"}:
            return all(n.rows().isEmpty() for n in nodes)
        if not names <= _SCAN_NODES:
            return False
        keys = _key_attrs(plan)
        if len(keys) != 2 or not keys <= _key_attrs(nodes[-1]):  # nodes[-1]: the scan
            return False
        files = [urlparse(f) for f in pages_df.inputFiles()]
        if any(u.scheme != "file" for u in files) or len(files) > _SERIAL_FOOTERS:
            return False
        per_file = [_chunk_boxes(unquote(u.path)) for u in files]
    except Exception:
        return False
    if any(b is None for b in per_file) or not _disjoint([b for bs in per_file for b in bs]):
        return False
    par = pages_df.sparkSession.sparkContext.defaultParallelism
    return len(files) >= par or all(
        len({(s0, b0) for s0, _, b0, _ in bs} | {(s1, b1) for _, s1, _, b1 in bs}) <= 1
        for bs in per_file
    )


def decode_table(
    pages_df: DataFrame,
    column_order: list[str] | None = None,
    ptypes: dict[str, str] | None = None,
) -> DataFrame:
    """Reassemble the original table from a page table: one ``mapInArrow``
    whose task decodes every (split_id, batch_id) chunk of its partition,
    in key order, and zips the decoded columns back into rows. Blobs never
    round-trip through pandas.

    A chunk must reach its task whole. A page table read from files whose
    footers prove that (:func:`_chunk_local`) is decoded over the scan's
    own partitions, with no Exchange; any other input is first
    ``repartition``-ed by (split_id, batch_id), which AQE coalesces to
    about one task per core (``spark/session.py``). A task holds its
    partition's page rows (one file split, or one coalesced shuffle
    partition) and one chunk's decoded output at a time.

    Pass ``ptypes`` (from :func:`table_ptypes` or the job manifest) — without
    it a full distinct-collect job runs over the page table's metadata before
    any decode starts, which is a per-decode metadata scan at 10^5+ splits
    (VERDICT r1 'what's wrong' #3). The fallback is kept for ad-hoc use only."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if ptypes is None:
        first = (
            pages_df.filter(F.col("page") >= 0)
            .select("column", "ptype").distinct().collect()
        )
        ptypes = {r["column"]: r["ptype"] for r in first}
    cols = column_order or sorted(ptypes)
    out_schema = T.StructType(
        [T.StructField(c, ptype_to_spark_type(ptypes[c]), True) for c in cols]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def decode_chunk(chunks: pagetable.Chunks, split: int, batch: int, range_groups: dict) -> pa.Table:
        import pyarrow.compute as pc

        def keep_mask(row_idx):
            keep = np.ones(len(row_idx), dtype=bool)
            for ranges in range_groups.values():
                los, his = np.array(sorted(ranges), dtype=np.int64).T
                j = np.searchsorted(los, row_idx, side="right") - 1
                keep &= (j >= 0) & (row_idx < his[np.maximum(j, 0)])
            return keep

        arrays = []
        for name in cols:
            values, validity = decode_column(chunks.pages(split, batch, name), ptypes[name])
            arr = _values_to_arrow(values, validity, ptypes[name])
            if range_groups:
                # global row index of each decoded row, from the offset index
                sub = chunks.chunk(split, batch, name)
                data = sub.filter(pc.greater_equal(sub["page"], 0))
                frs = np.asarray(data["first_row"])
                nrs = np.asarray(data["n_rows"])
                row_idx = (
                    np.repeat(frs - (np.cumsum(nrs) - nrs), nrs)
                    + np.arange(int(nrs.sum()), dtype=np.int64)
                )
                arr = arr.filter(pa.array(keep_mask(row_idx)))
            arrays.append(arr.cast(arrow_schema.field(name).type))
        return _bounded_batches(pa.table(arrays, schema=arrow_schema))

    def decode_partition(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        batches = list(it)
        if not batches:
            return
        tune_allocator()
        tbl = pa.Table.from_batches(batches)
        del batches
        # row-range rows (page = -3, one per surviving page range, emitted by
        # page-level pruning): a chunk keeps the rows in the AND over its
        # probe columns of the union of that column's ranges —
        # ColumnIndexFilter.calculateRowRanges semantics (parquet-hadoop's
        # ColumnIndexFilter.java:58-77)
        rr = tbl.filter(pc.equal(tbl["page"], ROWRANGES_PAGE)).to_pydict()
        ranges = {}
        for s, b, c, fr, n in zip(rr["split_id"], rr["batch_id"], rr["column"],
                                  rr["first_row"], rr["n_rows"]):
            ranges.setdefault((s, b), {}).setdefault(c, []).append((fr, fr + n))
        chunks = pagetable.Chunks(tbl)
        for split, batch in chunks.keys:
            yield from decode_chunk(chunks, split, batch, ranges.get((split, batch), {})).to_batches()

    leaf = pages_df if _chunk_local(pages_df) else pages_df.repartition("split_id", "batch_id")
    return leaf.mapInArrow(decode_partition, out_schema)


def prune_pages_by_stats(
    pages_df: DataFrame,
    column: str,
    lo=None,
    hi=None,
    numeric: bool = False,
    level: str = "chunk",
) -> DataFrame:
    """Predicate pushdown on the page table — the engine-side analog of the
    reference's statistics/column-index filter stack (RowGroupFilter.java:
    90-122, ColumnIndexFilter.calculateRowRanges): drop every (split, batch)
    whose `column` page stats prove no row in [lo, hi] can exist, BEFORE any
    page is decoded. Pages with omitted stats (min/max null) are kept —
    stats may only prove absence, never presence. Only DATA pages (page >= 0)
    vote: index rows (bloom page = -1, chunk dict page = -2) carry NULL
    stats and would otherwise keep every chunk alive."""
    if numeric:
        # exact compare for integer probes (double rounds above 2^53 and can
        # wrongly prune); doubles only when the probe itself is fractional
        probe_is_int = all(isinstance(v, int) for v in (lo, hi) if v is not None)
        cast_t = "decimal(20,0)" if probe_is_int else "double"
        mn, mx = F.col("min").cast(cast_t), F.col("max").cast(cast_t)
    else:
        mn, mx = F.col("min"), F.col("max")
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("max").isNull() | (mx >= F.lit(lo)))
    if hi is not None:
        cond = cond & (F.col("min").isNull() | (mn <= F.lit(hi)))
    probe = pages_df.filter((F.col("column") == column) & (F.col("page") >= 0))
    if level == "chunk":
        surviving = probe.filter(cond).select("split_id", "batch_id").distinct()
        return pages_df.join(surviving, ["split_id", "batch_id"], "left_semi")

    # level == "page": RowRanges pruning (ColumnIndexFilter.calculateRowRanges
    # + OffsetIndex firstRowIndex semantics). Surviving row ranges of the
    # probe column become page = -3 "rowranges" marker rows; OTHER columns
    # keep only pages overlapping a surviving range, and decode_table slices
    # each decoded column to the range union. Stacked prunes on DIFFERENT
    # columns intersect (decode ANDs per-column unions); re-pruning the SAME
    # column unions conservatively — exactness comes from the residual filter.
    surv = probe.filter(cond).select(
        "split_id", "batch_id", "ptype", "first_row", "n_rows"
    )
    rmeta = surv.groupBy("split_id", "batch_id").agg(
        F.collect_list(
            F.struct(
                F.col("first_row").alias("lo"),
                (F.col("first_row") + F.col("n_rows")).alias("hi"),
            )
        ).alias("__ranges"),
        F.count("*").alias("__n_surv"),
    ).join(
        probe.groupBy("split_id", "batch_id").agg(F.count("*").alias("__n_all")),
        ["split_id", "batch_id"],
    )
    joined = pages_df.join(rmeta, ["split_id", "batch_id"], "inner")
    overlap = F.exists(
        "__ranges",
        lambda r: (F.col("first_row") < r["hi"])
        & ((F.col("first_row") + F.col("n_rows")) > r["lo"]),
    )
    kept = joined.filter((F.col("page") < 0) | overlap).drop(
        "__ranges", "__n_surv", "__n_all"
    )
    # marker rows only for partially-surviving chunks (fully-surviving chunks
    # need no decode-side slicing)
    partial = rmeta.filter(F.col("__n_surv") < F.col("__n_all")).select(
        "split_id", "batch_id"
    )
    ranges_rows = surv.join(partial, ["split_id", "batch_id"], "left_semi").select(
        "split_id",
        "batch_id",
        F.lit(column).alias("column"),
        F.lit(ROWRANGES_PAGE).cast("int").alias("page"),
        F.lit("rowranges").alias("codec"),
        F.col("ptype"),
        F.col("first_row"),
        F.col("n_rows"),
        F.lit(0).cast("long").alias("null_count"),
        F.lit(0).cast("long").alias("raw_bytes"),
        F.lit(0).cast("long").alias("encoded_bytes"),
        F.lit(0).cast("long").alias("crc32"),
        F.lit("none").alias("compression"),
        F.lit(None).cast("string").alias("min"),
        F.lit(None).cast("string").alias("max"),
        F.lit(-1).cast("long").alias("ndv"),
        F.lit(b"").alias("data"),
    )
    return kept.unionByName(ranges_rows)


def prune_pages_by_bbox(
    pages_df: DataFrame,
    column: str,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> DataFrame:
    """Geospatial pushdown (GeospatialStatistics analog): drop every
    (split, batch) whose ``column`` bbox row (page = -5, emitted for WKB
    Point chunks) proves no geometry intersects the query rectangle. One
    metadata collect at call time (the bbox json parses with get_json_object,
    no geometry bytes are touched). Chunks without a bbox row are kept."""
    # bbox rows with a readable payload only: an encrypted (or otherwise
    # unreadable) geostats row must keep its chunk, never prune it
    geo = pages_df.filter(
        (F.col("column") == column)
        & (F.col("page") == GEO_PAGE)
        & F.col("min").isNotNull()
    )
    gx = lambda k: F.get_json_object(F.col("min"), f"$.{k}").cast("double")
    hit = (
        (gx("xmin") <= F.lit(float(xmax)))
        & (gx("xmax") >= F.lit(float(xmin)))
        & (gx("ymin") <= F.lit(float(ymax)))
        & (gx("ymax") >= F.lit(float(ymin)))
    )
    rows = geo.select("split_id", "batch_id", F.coalesce(hit, F.lit(False)).alias("hit")).toArrow()
    disproved = set(chunk_keys(rows)) - set(chunk_keys(rows.filter(rows["hit"])))
    return select_chunks(pages_df, disproved, keep=False)


# Above this many keys select_chunks broadcasts a key frame instead of an
# inline IN list. On a 4-core Intel Xeon VM (60k cached rows) the IN list
# grows with its length (0.16 s at 1000 keys, 1.33 s at 20000); the
# broadcast join stays at 0.40-0.45 s with its job. Across runs they crossed
# between 4000 and 6500 keys (medians of 5: 0.44 vs 0.45 s at 4000, 0.62 vs
# 0.40 at 7000); the cap is the low end. (Column.isin: 1.9 s at 5000.)
LITERAL_KEYS_MAX = 4096


def select_chunks(pages_df: DataFrame, keys: set, keep: bool = True) -> DataFrame:
    """The rows of ``pages_df`` whose (split_id, batch_id) is (``keep=False``:
    is not) in ``keys``. Keeping no key is a literal-false filter, which
    Catalyst folds to an empty relation: no data task runs."""
    if not keys:
        return pages_df.filter(F.lit(False)) if keep else pages_df
    if len(keys) > LITERAL_KEYS_MAX:
        key_df = pages_df.sparkSession.createDataFrame(sorted(keys), "split_id int, batch_id int")
        return pages_df.join(F.broadcast(key_df), ["split_id", "batch_id"],
                             "left_semi" if keep else "left_anti")
    # split_id IN (...) is the conjunct a parquet page table can push down
    splits = ",".join(map(str, sorted({s for s, _ in keys})))
    packed = ",".join(str((s << 32) + b) for s, b in sorted(keys))
    hit = F.expr(f"split_id IN ({splits}) AND "
                 f"CAST(split_id AS BIGINT) * 4294967296 + batch_id IN ({packed})")
    return pages_df.filter(hit if keep else ~hit)


def chunk_keys(tbl: pa.Table) -> list[tuple[int, int]]:
    return list(zip(tbl["split_id"].to_pylist(), tbl["batch_id"].to_pylist()))


def index_rows(pages_df: DataFrame, columns, index_columns=None, extra=()) -> pa.Table:
    """One driver collect of what the chunk pruners read: the data-page rows
    of ``columns`` without ``data``, the dictionary and bloom rows of
    ``index_columns`` (default: ``columns``) with it, and the ``extra``
    named Catalyst columns."""
    index_columns = columns if index_columns is None else index_columns
    wanted = (F.col("column").isin(sorted(columns)) & (F.col("page") >= 0)) | (
        F.col("column").isin(sorted(index_columns)) & F.col("page").isin(DICT_PAGE, BLOOM_PAGE)
    )
    # without index rows the scan need not read the `data` column at all
    data = F.when(F.col("page") < 0, F.col("data")) if index_columns else F.lit(None).cast("binary")
    return (
        pages_df.filter(wanted)
        .select("split_id", "batch_id", "column", "page", "codec", "ptype", "n_rows",
                "crc32", "compression", data.alias("data"), *extra)
        .toArrow()
    )


def _column_rows(meta: pa.Table, column: str, page=None) -> pa.Table:
    """``column``'s data-page rows of ``meta`` (or its rows of ``page``)."""
    import pyarrow.compute as pc

    on_page = pc.greater_equal(meta["page"], 0) if page is None else pc.equal(meta["page"], page)
    return meta.filter(pc.and_(pc.equal(meta["column"], column), on_page))


def _probe_list(value) -> list:
    return list(value) if isinstance(value, (list, tuple, set)) else [value]


def _dict_holds_any(blob: bytes, compression: str, ptype: str, count: int,
                    values: list) -> bool:
    from ..compression import decompress
    from ..kernels.fixedlen import value_to_fixed
    from ..pages import _NUMERIC, decode_dict_chunk_page, kernel_ptype

    # no validity stream; the row's n_rows is the dictionary's size
    uniques = decode_dict_chunk_page(decompress(blob[1:], compression), ptype, count)
    kp = kernel_ptype(ptype)
    if kp.startswith("fixed["):
        return len(uniques) > 0 and any(
            (uniques == value_to_fixed(v, ptype)).all(axis=1).any() for v in values
        )
    probes = [v.encode() if isinstance(v, str)
              else bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in values]
    if kp in RAGGED_TYPES:  # kernel type: covers geometry (= binary WKB) too
        present = set(uniques.to_pylist())
        return any(p in present for p in probes)
    # decimal columns compare on the UNSCALED int (kernel type)
    return any((uniques == _NUMERIC[kp](p)).any() for p in probes)


def dictionary_disproved(meta: pa.Table, column: str, value) -> set:
    """Dictionary level (DictionaryFilter.java:65-214 analog): the chunks
    whose dictionary page proves ``column`` never equals ``value`` (a
    list/tuple/set: none of its values). A chunk with a non-dict data page
    (hasNonDictionaryPages) or an encrypted dictionary is never disproved.
    ``meta`` is an :func:`index_rows` table."""
    import pyarrow.compute as pc

    values = _probe_list(value)
    data = _column_rows(meta, column)
    decided = set(chunk_keys(data.filter(pc.not_equal(data["codec"], "dict"))))
    dicts = _column_rows(meta, column, DICT_PAGE)
    out = set()
    for key, blob, comp, ptype, count in zip(
        chunk_keys(dicts), dicts["data"].to_pylist(), dicts["compression"].to_pylist(),
        dicts["ptype"].to_pylist(), dicts["n_rows"].to_pylist(),
    ):
        if key not in decided and not comp.endswith(ENCRYPTED_SUFFIX) \
                and not _dict_holds_any(blob, comp, ptype, count, values):
            out.add(key)
        decided.add(key)  # a chunk's first dictionary row decides
    return out


def bloom_disproved(meta: pa.Table, column: str, value) -> set:
    """Bloom level (BloomFilterImpl analog): the chunks whose bloom rows all
    prove ``column`` never equals ``value`` (a list/tuple/set: none of its
    values). Probes hash by the column's data-page ptype, so a column without
    data pages, like an encrypted bloom row or one of the earlier hash
    scheme, disproves nothing. A bloom row that fails its CRC raises
    ``IOError``."""
    from ..kernels.bloom import BlockSplitBloomFilter, literal_hash

    data = _column_rows(meta, column)
    blooms = _column_rows(meta, column, BLOOM_PAGE)
    if data.num_rows == 0 or blooms.num_rows == 0:
        return set()
    ptype = data["ptype"][0].as_py()
    probe = np.array([literal_hash(v, ptype) for v in _probe_list(value)], dtype=np.uint64)
    seen, maybe = set(), set()
    for key, codec, crc, blob, comp in zip(chunk_keys(blooms), *(
            blooms[k].to_pylist() for k in ("codec", "crc32", "data", "compression"))):
        seen.add(key)
        bits = None if comp.endswith(ENCRYPTED_SUFFIX) else pagetable.bloom_bits(codec, crc, blob)
        if bits is None or BlockSplitBloomFilter.deserialize(bits).contains_hashes(probe).any():
            maybe.add(key)
    return seen - maybe


def prune_pages_by_bloom(pages_df: DataFrame, column: str, value) -> DataFrame:
    """Bloom level (RowGroupFilter level 3; one Spark job at call time):
    drop the chunks :func:`bloom_disproved` names (no bloom row: kept)."""
    meta = index_rows(pages_df, [column])
    return select_chunks(pages_df, bloom_disproved(meta, column, value), keep=False)


def prune_pages_by_dictionary(pages_df: DataFrame, column: str, value) -> DataFrame:
    """Dictionary level (RowGroupFilter level 2; one Spark job at call time):
    drop the chunks :func:`dictionary_disproved` names (non-dict: kept)."""
    meta = index_rows(pages_df, [column])
    return select_chunks(pages_df, dictionary_disproved(meta, column, value), keep=False)


# ---------------------------------------------------------------- job + lineage


def _read_checkpoint(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a checkpoint parquet, returning None ONLY when the path doesn't
    exist yet (first run). Any other failure — permissions, corrupt footer,
    transient storage error — propagates: swallowing it would silently
    restart the job from zero and duplicate every split into the append-mode
    sink (ADVICE r2)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def lineage_from_pages(pages_df: DataFrame) -> DataFrame:
    """Per-split lineage record (north rule): input split, pages written,
    bytes, checksum-of-checksums."""
    return pages_df.groupBy("split_id").agg(
        F.count("*").alias("pages_written"),
        F.sum("n_rows").alias("values_written"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("encoded_bytes").alias("encoded_bytes"),
        F.expr("sum(crc32)").alias("checksum_sum"),
        F.collect_set("codec").alias("codecs"),
    )


def run_encode_job(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    columns: list[str] | None = None,
    num_partitions: int | None = None,
    key: str | None = None,
    salt_buckets: int = 1,
    codec: str = "auto",
    page_compression: str | None = None,
    sink_partitions: int | None = None,
    footer_key: bytes | None = None,
) -> dict:
    """Encode ``df`` to ``out_dir`` (pages parquet + lineage parquet + a tiny
    column-schema manifest), resuming from a previous partial run: splits
    already present in the lineage checkpoint are anti-joined away before
    encoding. Returns a small summary dict. With ``footer_key`` the schema
    manifest — our footer — is AES-GCM encrypted (the reference's
    encrypted-footer / PARE mode); pass the same key to read_job_ptypes.

    The page sink is hive-partitioned by ``column`` so stats/bloom/dict
    pruning reads are partition-pruned (scan only the probed column's files),
    and rewritten through one bounded shuffle of the ENCODED bytes
    (``sink_partitions``, default = cluster parallelism) so file count stays
    O(sink_partitions × n_columns) instead of one file per encode task —
    the r1 small-files fix. Shuffling post-encode costs ~1-2% of the raw
    bytes (the compressed pages), not the data itself."""
    pages_path = os.path.join(out_dir, "pages")
    lineage_path = os.path.join(out_dir, "lineage")
    schema_path = os.path.join(out_dir, "schema")

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    work = repartition_for_encode(df, num_partitions, key=key, salt_buckets=salt_buckets)
    # stable split id: the partition the deterministic repartition assigned.
    # Resume requires the same num_partitions/key so ids reproduce.
    work = work.withColumn("__split", F.spark_partition_id())

    lineage_df = _read_checkpoint(spark, lineage_path)
    done_splits = lineage_df.select("split_id").distinct() if lineage_df is not None else None
    if done_splits is not None:
        # broadcast anti-join: no reshuffle of the big side, and __split rides
        # along as a column so encode_table keeps the original ids
        work = work.join(
            F.broadcast(done_splits.withColumnRenamed("split_id", "__split")),
            on="__split",
            how="left_anti",
        )

    pages_df = encode_table(
        work,
        columns=columns,
        codec=codec,
        page_compression=page_compression,
        split_col="__split",
    )
    cols = columns or [f.name for f in df.schema.fields if f.name != "__split"]
    schema_rows = [(c, spark_type_to_ptype(df.schema[c].dataType)) for c in cols]
    return _finish_encode_job(
        spark, pages_df, out_dir, schema_rows, sink_partitions, footer_key
    )


def _finish_encode_job(
    spark: SparkSession,
    pages_df: DataFrame,
    out_dir: str,
    schema_rows: list[tuple[str, str]],
    sink_partitions: int | None,
    footer_key: bytes | None = None,
) -> dict:
    pages_path = os.path.join(out_dir, "pages")
    lineage_path = os.path.join(out_dir, "lineage")
    schema_path = os.path.join(out_dir, "schema")
    n_sink = sink_partitions or spark.sparkContext.defaultParallelism
    (
        pages_df.repartition(n_sink, "column", "split_id")
        .write.mode("append")
        .option("maxRecordsPerFile", 500_000)
        .partitionBy("column")
        .parquet(pages_path)
    )

    # (column → ptype) manifest: decode_table(ptypes=read_job_ptypes(...))
    # never needs a metadata job over the page table
    enc_path = os.path.join(out_dir, "schema.enc")
    if footer_key is not None:
        from .crypto import encrypt_footer_manifest

        os.makedirs(out_dir, exist_ok=True)
        with open(enc_path, "wb") as f:
            f.write(encrypt_footer_manifest(schema_rows, footer_key))
        # a plaintext manifest from an earlier unencrypted run must not
        # coexist (read_job_ptypes prefers the encrypted one)
        import shutil as _sh

        _sh.rmtree(schema_path, ignore_errors=True)
    else:
        spark.createDataFrame(schema_rows, "column string, ptype string").coalesce(
            1
        ).write.mode("overwrite").parquet(schema_path)
        if os.path.exists(enc_path):  # stale encrypted footer would shadow
            os.remove(enc_path)

    written = spark.read.parquet(pages_path)
    lineage = lineage_from_pages(written)
    lineage.write.mode("overwrite").parquet(lineage_path)
    agg = written.agg(
        F.count("*").alias("pages"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("encoded_bytes").alias("enc"),
    ).collect()[0]
    return {
        "pages": agg["pages"],
        "raw_bytes": int(agg["raw"] or 0),
        "encoded_bytes": int(agg["enc"] or 0),
        "pages_path": pages_path,
        "lineage_path": lineage_path,
        "schema_path": schema_path,
    }


def run_encode_files_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    columns: list[str] | None = None,
    codec: str | dict[str, str] = "auto",
    page_compression: str | None = None,
    with_bloom: bool = False,
    sink_partitions: int | None = None,
    footer_key: bytes | None = None,
) -> dict:
    """The worker-read variant of :func:`run_encode_job`: encodes parquet
    files via :func:`encode_parquet_files` (splits = row groups, no
    JVM→Python transport) with the same lineage checkpoint + idempotent
    resume. Resume skips whole split ids, so every split is encoded whole
    inside one task (a task may encode several); no row group is shared
    between tasks. Split ids are (file, row-group) ordinals; to keep them
    STABLE the first run records the enumerated (path, n_row_groups) plan
    in a ``splitmap`` checkpoint, and a resume whose re-enumeration differs
    (a file added / removed / renamed / rewritten with different row
    groups) REFUSES to continue instead of silently re-keying splits and
    skipping/duplicating data (ADVICE r2)."""
    import pyarrow.parquet as _pq

    lineage_path = os.path.join(out_dir, "lineage")
    splitmap_path = os.path.join(out_dir, "splitmap")

    files = _list_parquet_files(input_path)
    plan = plan_parquet_splits(spark, files)

    recorded = _read_checkpoint(spark, splitmap_path)
    if recorded is not None:
        old = [(r["path"], int(r["n_rgs"])) for r in recorded.orderBy("ordinal").collect()]
        if old != plan:
            raise ValueError(
                "cannot resume: the input file list changed since the first "
                f"run ({len(old)} recorded vs {len(plan)} enumerated files, or "
                "row-group counts differ); split ids would shift. Start a "
                "fresh out_dir or restore the original input."
            )
    else:
        spark.createDataFrame(
            [(i, p, n) for i, (p, n) in enumerate(plan)],
            "ordinal int, path string, n_rgs int",
        ).coalesce(1).write.mode("overwrite").parquet(splitmap_path)

    lineage_df = _read_checkpoint(spark, lineage_path)
    done: set[int] = (
        {r["split_id"] for r in lineage_df.select("split_id").collect()}
        if lineage_df is not None
        else set()
    )
    pages_df = encode_parquet_files(
        spark,
        input_path,
        columns=columns,
        codec=codec,
        page_compression=page_compression,
        with_bloom=with_bloom,
        exclude_splits=done,
        split_plan=plan,
    )
    schema = _pq.read_schema(files[0])
    cols = columns or list(schema.names)
    schema_rows = [(c, arrow_type_to_ptype(schema.field(c).type)) for c in cols]
    return _finish_encode_job(
        spark, pages_df, out_dir, schema_rows, sink_partitions, footer_key
    )


def read_job_ptypes(
    spark: SparkSession, out_dir: str, footer_key: bytes | None = None
) -> dict[str, str]:
    """Load the (column → ptype) manifest written by :func:`run_encode_job` —
    a single tiny file, not a scan of the page table. For a job written with
    ``footer_key`` the encrypted footer is decrypted (wrong key → auth error,
    the reference's PARE no-key behavior)."""
    enc_path = os.path.join(out_dir, "schema.enc")
    if os.path.exists(enc_path):
        from .crypto import decrypt_footer_manifest

        if footer_key is None:
            raise PermissionError(
                "job footer is encrypted (PARE); pass footer_key to read it"
            )
        with open(enc_path, "rb") as f:
            return dict(decrypt_footer_manifest(f.read(), footer_key))
    rows = spark.read.parquet(os.path.join(out_dir, "schema")).collect()
    return {r["column"]: r["ptype"] for r in rows}
