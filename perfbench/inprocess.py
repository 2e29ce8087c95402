"""In-process layers: the NumPy kernels (``kernels`` + ``pages`` + ``stats``
+ ``compression``) on one core, and the ``parquet_file`` workload, which
runs the interop writer and reader with no Spark.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import inputs
from tracing import Ops, PeakRss

WEBPAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
TABLE_PTYPES = ("int64", "int32", "float64", "string", "timestamp_us")
KERNEL_SLOTS = WEBPAGES_COLUMNS + TABLE_PTYPES
KERNEL_BATCH_ROWS = 65_536


def _slot(name: str, ptype: str) -> str | None:
    """Webpages columns are their own slot; other columns group by ptype
    (both timestamp flavours share one slot)."""
    if name in WEBPAGES_COLUMNS:
        return name
    p = "timestamp_us" if ptype.startswith("timestamp") else ptype
    return p if p in TABLE_PTYPES else None


def kernel_metrics(tables: list[pa.Table], page_compression: str | None) -> dict:
    """Per slot: stats, encode (encode_column, which re-runs the stats),
    decode seconds and encoded bytes, on one core in this process."""
    from pq_engine.pages import RAGGED_TYPES, decode_column, encode_column, kernel_ptype
    from pq_engine.spark.engine import _arrow_to_values, arrow_type_to_ptype
    from pq_engine.stats import numeric_stats, ragged_stats

    acc = {s: {"stats_s": 0.0, "encode_s": 0.0, "decode_s": 0.0, "encoded_bytes": 0} for s in KERNEL_SLOTS}
    raw = enc_s = dec_s = 0.0
    for tbl in tables:
        for batch in tbl.to_batches(max_chunksize=KERNEL_BATCH_ROWS):
            for i, name in enumerate(batch.schema.names):
                ptype = arrow_type_to_ptype(batch.schema.field(i).type)
                slot = _slot(name, ptype)
                if slot is None:
                    continue
                values, validity = _arrow_to_values(batch.column(i), ptype)
                kp = kernel_ptype(ptype)
                t0 = time.perf_counter()
                if kp in RAGGED_TYPES:
                    ragged_stats(values, text_metrics=page_compression is None)
                elif kp != "bool":
                    numeric_stats(values)
                t1 = time.perf_counter()
                pages = encode_column(values, ptype, validity=validity, page_compression=page_compression)
                t2 = time.perf_counter()
                decode_column(pages, ptype)
                t3 = time.perf_counter()
                a = acc[slot]
                a["stats_s"] += t1 - t0
                a["encode_s"] += t2 - t1
                a["decode_s"] += t3 - t2
                a["encoded_bytes"] += sum(len(b) for _, b in pages)
                raw += sum(m["raw_bytes"] for m, _ in pages)
                enc_s += t2 - t1
                dec_s += t3 - t2
    m = {f"kernels.{k}.{s}": v for s, a in acc.items() for k, v in a.items()}
    m["kernels.encode_mbps_core"] = raw / 1e6 / enc_s if enc_s else 0.0
    m["kernels.decode_mbps_core"] = raw / 1e6 / dec_s if dec_s else 0.0
    return m


# ------------------------------------------------------- parquet_file


def _canon(values, validity, n_rows: int):
    """(validity bytes, value lengths, value bytes): equal iff the columns
    hold the same values, whatever container the reader returned."""
    from pq_engine.kernels.ragged import RaggedBytes

    valid = np.ones(n_rows, dtype=bool) if validity is None else np.asarray(validity, dtype=bool)
    if isinstance(values, RaggedBytes):
        off = np.asarray(values.offsets, dtype=np.int64)
        data = np.asarray(values.data)[off[0] : off[-1]]
        return valid.tobytes(), np.diff(off).tobytes(), data.tobytes()
    return valid.tobytes(), b"", np.ascontiguousarray(values).tobytes()


class ParquetFile:
    """Page table -> ``.parquet`` through the ``pq to-parquet`` path, then
    the interop reader: a full read and a fixed filtered-read set."""

    name = "parquet_file"
    WEBPAGES_ROWS = 12_500
    WEBPAGES_SLICES = 2  # seeds per slice as in datagen.webpages_df
    LINEITEM_ROWS = 100_000

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.ops = Ops()
        self.rss = PeakRss(os.getpid(), include_root=True)
        self.setup = {}
        self.reports: list[dict] = []

    # ------------------------------------------------------ set-up

    def _gen(self):
        from pq_engine.datagen import gen_webpages

        per = self.WEBPAGES_ROWS // self.WEBPAGES_SLICES
        wp = [
            gen_webpages(per, seed=self.seed + pid * 1_000_003, html_mu=7.5, html_max=1 << 18)
            for pid in range(self.WEBPAGES_SLICES)
        ]
        return wp, inputs.lineitem(self.seed, self.LINEITEM_ROWS)

    @staticmethod
    def _page_table(parts: list[pa.Table]) -> pa.Table:
        from pq_engine.pages import PAGE_BYTES, PAGE_ROWS
        from pq_engine.spark.engine import _codec_of, _encode_arrow_batch, arrow_type_to_ptype

        cols = parts[0].column_names
        ptypes = {f.name: arrow_type_to_ptype(f.type) for f in parts[0].schema}
        out = []
        for split, tbl in enumerate(parts):
            for bi, batch in enumerate(tbl.to_batches(max_chunksize=KERNEL_BATCH_ROWS)):
                out.append(_encode_arrow_batch(
                    batch, cols, ptypes, _codec_of("auto"), split, bi,
                    PAGE_ROWS, PAGE_BYTES, "zstd", False,
                ))
        return pa.Table.from_batches(out)

    def _set_up(self) -> None:
        from pq_engine.spark.engine import arrow_type_to_ptype

        wp_parts, li = self._gen()
        wp = pa.concat_tables(wp_parts)
        self.inputs = {"webpages": wp, "lineitem": li}
        self.ptypes = {
            n: {f.name: arrow_type_to_ptype(f.type) for f in t.schema} for n, t in self.inputs.items()
        }
        self.page_tables = {"webpages": self._page_table(wp_parts), "lineitem": self._page_table([li])}
        self.files = {n: f"{self.work}/{n}.parquet" for n in self.inputs}
        self.raw_bytes = sum(int(pc.sum(t["raw_bytes"]).as_py()) for t in self.page_tables.values())
        self.ref = {n: self._reference(t, n) for n, t in self.inputs.items()}
        ts = wp["warc_ts"].cast("int64")
        t0 = int(pc.min(ts).as_py())
        span = int(pc.max(ts).as_py()) - t0
        lo, hi = t0 + span // 200, t0 + span // 200 + span // 100
        rng = np.random.default_rng([self.seed, 3])
        key = int(li["l_orderkey"][int(rng.integers(0, li.num_rows))].as_py())
        self.preds = [
            ("miss", "webpages", ("eq", "lang", "qq"), pc.equal(wp["lang"], "qq")),
            ("range", "webpages", ("and", ("ge", "warc_ts", lo), ("lt", "warc_ts", hi)),
             pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi))),
            ("eq", "lineitem", ("eq", "l_orderkey", key), pc.equal(li["l_orderkey"], key)),
        ]
        self.expected = {
            name: self._reference(self.inputs[table].filter(mask), table)
            for name, table, _, mask in self.preds
        }

    def _reference(self, tbl: pa.Table, table: str) -> dict:
        from pq_engine.spark.engine import _arrow_to_values

        return {
            c: _canon(*_arrow_to_values(tbl[c], self.ptypes[table][c]), tbl.num_rows)
            for c in tbl.column_names
        }

    def start(self) -> None:
        t0 = time.perf_counter()
        self._set_up()
        self.setup = {"gen_s": time.perf_counter() - t0}

    # ------------------------------------------------------------ ops

    def _export(self, n: str) -> int:
        from pq_engine.cli import cmd_to_parquet

        with self.tr.span("cli.cmd_to_parquet"), contextlib.redirect_stdout(io.StringIO()):
            cmd_to_parquet(self.page_tables[n], argparse.Namespace(out=self.files[n], to="zstd"))
        return os.path.getsize(self.files[n])

    def _read(self, n: str) -> dict:
        from pq_engine.interop.parquet_reader import read_parquet

        with self.tr.span("interop.read_parquet"):
            return read_parquet(self.files[n])[1]

    def _check_read(self, n: str, cols: dict) -> bool:
        rows = self.inputs[n].num_rows
        return all(_canon(*cols[c], rows) == self.ref[n][c] for c in self.ref[n])

    def _filtered(self, table: str, pred) -> tuple:
        from pq_engine.interop.parquet_reader import read_parquet_filtered

        with self.tr.span("interop.read_parquet_filtered"):
            _, cols, report = read_parquet_filtered(self.files[table], pred)
        return cols, report

    def _check_filtered(self, name: str, out: tuple) -> bool:
        cols, report = out
        self.reports.append(report)
        exp = self.expected[name]
        rows = report["rows_matched"]
        return set(cols) == set(exp) and all(_canon(*cols[c], rows) == exp[c] for c in exp)

    def run_pass(self) -> dict:
        """One pass; returns the seconds of each step's ops, checks not
        included."""
        ops = self.ops
        with self.tr.span("bench.pass"):
            with self.tr.span("bench.encode"):
                write = sum(ops.run(f"export {n}", lambda n=n: self._export(n), lambda size: size > 0)
                            for n in self.files)
            with self.tr.span("bench.scan"):
                scan = sum(ops.run(f"filtered read {name}", lambda a=(table, pred): self._filtered(*a),
                                   lambda out, name=name: self._check_filtered(name, out))
                           for name, table, pred, _ in self.preds)
            with self.tr.span("bench.decode"):
                decode = sum(ops.run(f"read {n}", lambda n=n: self._read(n),
                                     lambda cols, n=n: self._check_read(n, cols))
                             for n in self.files)
        return {"write": write, "scan": scan, "decode": decode, "pass_": write + scan + decode}

    @property
    def stored_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files.values())

    def layer_metrics(self, untraced: list[dict]) -> dict:
        scanned = sum(r["pages_scanned"] for r in self.reports)
        total = sum(r["pages_total"] for r in self.reports)
        return {
            "interop.write_s": statistics.median(w["write"] for w in untraced),
            "interop.read_s": statistics.median(w["decode"] for w in untraced),
            "interop.read_filtered_s": statistics.median(w["scan"] for w in untraced),
            "interop.pages_scanned_ratio": scanned / total if total else 1.0,
            "interop.file_bytes": self.stored_bytes,
        }
