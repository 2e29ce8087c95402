"""Page-body compression codecs — the CompressionCodecName analog
(/root/reference/parquet-common/.../hadoop/metadata/CompressionCodecName.java:26-33:
UNCOMPRESSED, SNAPPY, GZIP, LZO, BROTLI, LZ4, ZSTD, LZ4_RAW).
7 of the 8 are wired (lz4 = frame format, lz4_raw = block format, matching
the reference's LZ4 / LZ4_RAW pair); LZO stays absent — no LZO library in
the environment and the reference itself ships it as an optional
Hadoop-provided codec.

``zlib`` (≈ the reference's GZIP deflate stream, level 6) goes through the
stdlib and stays self-describing; the pyarrow-backed codecs (zstd/snappy/
lz4/brotli — C++-side, 100s of MB/s per core) need the decompressed size, so
their body is framed as ``u32 raw_len + compressed bytes``. ZSTD level 1 is
the default scale choice: ~5x faster than zlib-6 at a similar ratio.
"""

from __future__ import annotations

import zlib

_PA_CODECS = {"zstd": 1, "snappy": None, "lz4": None, "lz4_raw": None, "brotli": 1, "gzip": 6}

CODECS = ("none", "zlib", *(_PA_CODECS))


def available(name: str) -> bool:
    if name in ("none", "zlib", None):
        return True
    if name not in _PA_CODECS:
        return False
    import pyarrow as pa

    return pa.Codec.is_available(name)


_CODEC_CACHE: dict[str, object] = {}


def _pa_codec(name: str):
    codec = _CODEC_CACHE.get(name)
    if codec is None:
        import pyarrow as pa

        level = _PA_CODECS.get(name)
        codec = (
            pa.Codec(name, compression_level=level) if level is not None else pa.Codec(name)
        )
        _CODEC_CACHE[name] = codec
    return codec


def decompress_view(name: str, body, raw_size: int) -> memoryview:
    """Decompress a raw ``name`` stream of ``raw_size`` bytes with the cached
    pyarrow codec, into a buffer from the system allocator, and return it as
    an unsigned-byte view without a copy (Arrow exports signed ``b`` items).
    The system allocator runs under memtune's malloc settings, so the memory
    of a freed page body is reused warm; Arrow's default jemalloc pool
    hands out fresh pages instead."""
    import pyarrow as pa

    out = _pa_codec(name).decompress(body, raw_size, memory_pool=pa.system_memory_pool())
    return memoryview(out).cast("B")


def compress(body: bytes, compression: str | None) -> bytes:
    if compression in (None, "none"):
        return body
    if compression == "zlib":
        return zlib.compress(body, 6)  # gzip-default level: size parity with
        # the reference's GZIP codec
    if compression in _PA_CODECS:
        out = bytes(_pa_codec(compression).compress(body))
        return len(body).to_bytes(4, "little") + out
    raise ValueError(f"unknown page compression {compression!r}")


def decompress(body, compression: str | None):
    if compression in (None, "none"):
        return body
    if compression == "zlib":
        return zlib.decompress(bytes(body))
    if compression in _PA_CODECS:
        mv = memoryview(body)
        raw_len = int.from_bytes(bytes(mv[:4]), "little")
        return decompress_view(compression, mv[4:], raw_len)
    raise ValueError(f"unknown page compression {compression!r}")
