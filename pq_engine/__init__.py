"""pq_engine — a from-scratch PySpark-native per-column lightweight-compression engine.

Re-expresses the encoding layer of apache/parquet-java (see SURVEY.md) as vectorized
NumPy kernels driven from Arrow-batched Spark UDFs:

- ``kernels/``   pure-NumPy encoders/decoders (PLAIN, RLE/bit-packed hybrid,
                 DICTIONARY, DELTA_BINARY_PACKED, BYTE_STREAM_SPLIT,
                 DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY, FSST)
- ``stats.py``   sampled per-batch statistics + codec auto-selection
                 (replaces parquet-java's streaming FallbackValuesWriter,
                 /root/reference/parquet-column/.../values/fallback/FallbackValuesWriter.java)
- ``pages.py``   page framing + per-page manifest (lineage) rows
- ``spark/``     the distributed engine: encode_table / decode_table over
                 ``mapInArrow``, salted repartitioning, checkpoint/resume
- ``pipeline/``  training-data-pipeline operators (dedup, similarity, text stats)

All byte layouts inside page bodies follow the public parquet-format spec so the
decode side of any conforming reader agrees bit-for-bit.
"""

__version__ = "0.3.0"

# Worker-side process tuning (idempotent): malloc thresholds for
# page-fault-expensive hosts (opt-out via PQ_ENGINE_NO_MALLOC_TUNE) + on
# Python < 3.12 the zipimporter invalidate_caches mtime guard (PySpark
# invalidates import caches per task; see memtune._patch_zipimport_invalidate). Running it at package import means
# any Spark worker that unpickles a function referencing pq_engine is tuned
# from its first task onward.
from pq_engine.memtune import tune_allocator as _tune

_tune()
del _tune
