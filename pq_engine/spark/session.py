"""SparkSession factory with the engine's required configs.

Local mode is a stand-in for a multi-executor cluster: parallelism scales with
``local[N]`` threads, AQE on. The ``executorEnv`` malloc settings matter on
page-fault-expensive hosts (see memtune.py) — Python UDF workers inherit them
at exec time.

Python workers also get ``ARROW_DEFAULT_MEMORY_POOL=system``, and the encode
task reads its source with ``iter_batches(use_threads=False)`` (one task is
one core): pyarrow's source read then allocates from glibc's warm heap under
those malloc settings, on one thread. The two halves win only together:
each alone made encode slower. On a 4-core host, ``perfbench`` ``webpages``
``encode_mbps`` over the same three seeds was 1409-1492 with neither,
1160-1189 with the system pool alone, 1233-1297 with ``use_threads=False``
alone, and 1588-1677 with both. The pool is set for the workers only, not
in the driver's environment: the in-process paths (``pq to-parquet``, the
interop reader) keep pyarrow's jemalloc pool, where a process-wide system
pool raised the ``parquet_file`` workload's RSS by about 100 MB.

Shuffle sizing: an AQE-coalescible shuffle starts from
``32 × shuffle_partitions`` hash partitions, and AQE merges neighbours up to
``input bytes / defaultParallelism`` each (``parallelismFirst``, Spark's
default), with no byte floor. So every shuffle ends near one task per core,
each with an even share of the keys. Coalescing cannot split a partition, so
the start is wide enough that few keys share one: with two chunk keys
``(split_id, 0)`` per core, no partition gets 3 of them at any core count up
to 32 (at 16 × one does at 17 cores). Merging is greedy, so when the keys
do not divide evenly among the cores a small extra task is left: 10 equal
chunks on 4 cores run as [3, 2, 2, 2, 1].

Decode needs this only when it repartitions. A page table read from files
whose footers prove that every chunk lies whole in one scan partition is
decoded over the scan's own partitions, with no shuffle
(``engine._chunk_local``). Any other input (a cached or computed page table,
a ``run_encode_job`` output partitioned by column, one file of many chunks)
is first repartitioned by (split_id, batch_id). That shuffle moves
page-table bytes, about 1.4 % of the bytes its Python UDF decodes: by bytes
with Spark's 1 MiB floor, AQE packs a column-subset decode into one or two
tasks. Measured on a 4-core host, ``webpages``, 8 chunks: with the
partitions pinned to the core count and that floor, chunks per decode task
were [3, 2, 2, 1] for the full table (8 keys hashed into 4 partitions),
[5, 3] for ``html`` alone and [8] for ``url, warc_ts, lang``; with this rule
all three are [2, 2, 2, 2].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..memtune import ENV as _MALLOC_ENV

ARROW_BATCH_ROWS = 20_480  # one Arrow batch ≈ one parquet page row-target


def get_spark(
    master: str | None = None,
    app: str = "pq_engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = ARROW_BATCH_ROWS,
    task_cpus: int = 1,
) -> SparkSession:
    """``task_cpus > 1`` caps concurrent Python workers at cores/task_cpus —
    on DRAM-starved hosts memory-bound encode peaks well below the core count
    (this sandbox: ~8 workers), and fewer workers also means fewer heap
    arenas paying first-touch page faults. On a real cluster the equivalent
    knob is executor cores vs spark.task.cpus.

    ``shuffle_partitions`` (default: ``cores``) is also
    ``defaultParallelism``, the task count AQE coalesces each shuffle
    towards; see the module docstring for the coalescing rule."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # see "Shuffle sizing" in the module docstring
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(32 * shuffle_partitions),
        )
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("PQ_DRIVER_MEM", "24g"))
        .config("spark.python.worker.reuse", "true")
        # JVM<->Python worker channel over unix domain sockets (Spark 4):
        # the TCP loopback path sets no TCP_NODELAY, so the runner protocol's
        # write-write-read patterns hit Linux's ~40 ms delayed-ACK timer on
        # EVERY task (measured: 49 -> 14.5 ms fixed latency per Python task,
        # executor CPU time ~4 ms either way). Executor and its workers
        # always share a host, so this applies identically on a cluster;
        # PQ_PY_UDS=false restores the TCP path.
        .config(
            "spark.python.unix.domain.socket.enabled",
            os.environ.get("PQ_PY_UDS", "true"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.task.cpus", str(task_cpus))
    )
    for k, v in _MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
        os.environ.setdefault(k, v)
    # workers only, see the module docstring
    b = b.config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
