"""The Spark workloads (``webpages``, ``tables_pushdown``) and the probes of
the Spark-side layers: the Python<->JVM boundary, the plan, filterapi, the
page-table sink and ``spark.external``.

One driver thread runs one op at a time (a closed loop with one client).
Every op checks its own output; a wrong or failed op is counted, not
raised.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from tracing import Ops, PeakRss

STEPS = ("encode", "scan", "decode")


def start_session(app: str, cpus: int, work: str, event_log: str | None):
    """SparkSession pinned to ``local[cpus]``; the event log (per-task
    durations) is on only when ``event_log`` names a directory."""
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    from pq_engine.spark.session import get_spark

    return get_spark(cores=cpus, app=app)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(p))


def _hash_cols(df):
    return F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)"))


def table_digest(df) -> tuple:
    """Order-insensitive (row count, row-hash sum) of a DataFrame."""
    r = df.agg(F.count(F.lit(1)).alias("n"), _hash_cols(df).alias("h")).collect()[0]
    return int(r["n"]), str(r["h"])


def pages_digest(sink: str) -> dict:
    """Byte totals and a sha256 over every page row (identity, checksum and
    blob, in key order) of a page-table sink, read in this process."""
    import hashlib

    import pyarrow.parquet as pq

    cols = ["split_id", "batch_id", "column", "page", "codec", "crc32", "data", "raw_bytes", "encoded_bytes"]
    tbl = pq.read_table(sink, columns=cols).sort_by(
        [("split_id", "ascending"), ("batch_id", "ascending"), ("column", "ascending"), ("page", "ascending")])
    h = hashlib.sha256()
    for name in cols[:7]:
        for v in tbl[name].to_pylist():
            h.update(repr(v).encode() if not isinstance(v, bytes) else v)
    return {
        "rows": tbl.num_rows,
        "raw": sum(tbl["raw_bytes"].to_pylist()),
        "enc": sum(tbl["encoded_bytes"].to_pylist()),
        "digest": h.hexdigest(),
    }


def plan_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in final.splitlines() if "Exchange" in line)


@dataclass
class Table:
    name: str
    src: str
    sink: str
    ptypes: dict
    encode_kwargs: dict
    raw_bytes: int = 0
    input_digest: tuple = ()
    pages_ref: dict | None = None


@dataclass
class Probe:
    """One predicate of the fixed scan set: a dictionary/bloom miss, a range
    and an equality."""

    name: str
    table: str
    pred: object
    proj: list
    expected: list = field(default_factory=list)


@dataclass
class ExternalScan:
    path: str
    predicate: tuple
    columns: list
    expected: list = field(default_factory=list)


def _rows(rows) -> list:
    return sorted(tuple(r) for r in rows)


def _arrow_rows(tbl) -> list:
    """An Arrow table's rows as sorted tuples, comparable with collect()."""
    return sorted(zip(*(tbl[c].to_pylist() for c in tbl.column_names)))


class SparkWorkload:
    """Shared pass structure: encode (+ page-table sink), scan (the fixed
    predicate set), decode (full rebuild of every table)."""

    name = ""

    def __init__(self, seed: int, work: str, cpus: int, tracer, event_log: str | None):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.tr = tracer
        self.event_log = event_log
        self.tables: list[Table] = []
        self.probes: list[Probe] = []
        self.external: ExternalScan | None = None
        # traced run only: more filterapi predicates, and an external scan
        # for a workload whose passes run none
        self.prune_probes: list[Probe] = []
        self.external_probe: ExternalScan | None = None
        self.ops = Ops()
        self.exchanges: dict[str, list[int]] = {s: [] for s in STEPS}
        self.setup = {}

    # ----------------------------------------------------------- set-up

    def make_inputs(self) -> None:
        raise NotImplementedError

    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_session(f"perfbench-{self.name}", self.cpus, self.work, self.event_log)
        self.spark.range(1).count()
        t1 = time.perf_counter()
        self.make_inputs()
        t2 = time.perf_counter()
        self.setup = {"session_s": t1 - t0, "gen_s": t2 - t1}
        self.rss = PeakRss(os.getpid())
        self.rss.start()

    # ------------------------------------------------------------- ops

    def _group(self, name: str) -> None:
        if self.tr.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def _encode(self, t: Table) -> None:
        from pq_engine.spark.engine import encode_parquet_files

        with self.tr.span("engine.encode_parquet_files"):
            pages = encode_parquet_files(self.spark, t.src, **t.encode_kwargs)
        with self.tr.span("spark.write_sink"):
            pages.write.mode("overwrite").option("compression", "none").parquet(t.sink)
        if self.tr.enabled:
            self.exchanges["encode"].append(plan_exchanges(pages))

    def _check_sink(self, t: Table) -> bool:
        with self.tr.span("bench.check_pages"):
            got = pages_digest(t.sink)
        if t.pages_ref is None:  # the first pass of the run pins the digest
            t.pages_ref = got
        return got == t.pages_ref and got["raw"] == t.raw_bytes

    def _scan(self, p: Probe) -> list:
        from pq_engine.spark import filterapi
        from pq_engine.spark.engine import decode_table

        t = next(x for x in self.tables if x.name == p.table)
        with self.tr.span("sink.read_plan"):
            pages = self.spark.read.parquet(t.sink).filter(F.col("column").isin(p.proj))
        with self.tr.span("filterapi.filter_pages"):
            kept = filterapi.filter_pages(pages, p.pred)
        with self.tr.span("engine.decode_table"):
            out = decode_table(kept, p.proj, {c: t.ptypes[c] for c in p.proj})
        with self.tr.span("filterapi.residual_expr"):
            out = out.filter(filterapi.residual_expr(p.pred))
        with self.tr.span("spark.collect"):
            rows = out.collect()
        if self.tr.enabled:
            self.exchanges["scan"].append(plan_exchanges(out))
        return rows

    def _external(self, e: ExternalScan) -> list:
        from pq_engine.spark.external import scan_parquet

        with self.tr.span("external.scan_parquet"):
            df = scan_parquet(self.spark, [e.path], predicate=e.predicate, columns=e.columns)
        with self.tr.span("spark.collect"):
            return df.collect()

    def _decode(self, t: Table) -> tuple:
        """The decode op's action is the (row count, row-hash sum) aggregate
        that the check compares; ``boundary.decode_noop_s`` gives the same
        decode into a noop sink, so the hash's share can be read off."""
        from pq_engine.spark.engine import decode_table

        with self.tr.span("sink.read_plan"):
            pages = self.spark.read.parquet(t.sink)
        with self.tr.span("engine.decode_table"):
            out = decode_table(pages, list(t.ptypes), t.ptypes)
        with self.tr.span("spark.collect"):
            got = table_digest(out)
        if self.tr.enabled:
            self.exchanges["decode"].append(plan_exchanges(out))
        return got

    def run_pass(self) -> dict:
        """One pass; returns the seconds of each step's ops, checks not
        included."""
        ops = self.ops
        with self.tr.span("bench.pass"):
            with self.tr.span("bench.encode"):
                self._group("encode")
                write = sum(ops.run(f"encode {t.name}", lambda t=t: self._encode(t),
                                    lambda _, t=t: self._check_sink(t)) for t in self.tables)
            with self.tr.span("bench.scan"):
                self._group("scan")
                scan = sum(ops.run(f"scan {p.name}", lambda p=p: self._scan(p),
                                   lambda rows, p=p: _rows(rows) == p.expected) for p in self.probes)
                ext = 0.0
                if self.external is not None:
                    self._group("scan.external")
                    e = self.external
                    ext = ops.run("external scan", lambda: self._external(e),
                                  lambda rows: _rows(rows) == e.expected)
            with self.tr.span("bench.decode"):
                self._group("decode")
                decode = sum(ops.run(f"decode {t.name}", lambda t=t: self._decode(t),
                                     lambda got, t=t: got == t.input_digest) for t in self.tables)
            if self.tr.enabled:  # later untraced jobs stay out of the step groups
                self.spark.sparkContext.setJobGroup("bench", "bench")
        return {"write": write, "scan": scan + ext, "external": ext, "decode": decode,
                "pass_": write + scan + ext + decode}

    # ------------------------------------------------------- aggregates

    @property
    def raw_bytes(self) -> int:
        return sum(t.raw_bytes for t in self.tables)

    @property
    def stored_bytes(self) -> int:
        return sum(dir_bytes(t.sink) for t in self.tables)

    # ----------------------------------------------------- layer probes

    def layer_probes(self, untraced: list[dict]) -> dict:
        """Per-layer numbers measured apart from the passes (trace run)."""
        from pq_engine.spark import filterapi
        from pq_engine.spark.engine import decode_table, encode_parquet_files

        sc = self.spark.sparkContext
        m = {}

        # boundary: fixed per-task cost of a 64-task no-op Python job
        def noop(it):
            from pq_engine.memtune import tune_allocator

            tune_allocator()
            for b in it:
                yield b

        sc.setJobGroup("boundary.noop", "boundary.noop")
        for _ in range(3):
            self.spark.range(0, 64, 1, 64).mapInArrow(noop, "id long") \
                .write.format("noop").mode("overwrite").save()

        # boundary: Arrow return path, decode-sized batches into a noop sink
        n_tasks = max(1, sum(len(self.spark.read.parquet(t.sink).select("split_id", "batch_id")
                                 .distinct().collect()) for t in self.tables))
        per_task = self.raw_bytes // n_tasks
        row_bytes = 4096
        rows = max(1, per_task // row_bytes)

        def ret(it):
            import numpy as np
            import pyarrow as pa
            from pq_engine.memtune import tune_allocator

            tune_allocator()
            data = np.zeros(rows * row_bytes, dtype=np.uint8)
            offs = (np.arange(rows + 1, dtype=np.int32) * row_bytes)
            arr = pa.Array.from_buffers(pa.binary(), rows, [None, pa.py_buffer(offs), pa.py_buffer(data)])
            for b in it:
                for _ in range(b.num_rows):
                    yield pa.RecordBatch.from_arrays([arr], names=["b"])

        sc.setJobGroup("boundary.return", "boundary.return")
        ret_s = []
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(0, n_tasks, 1, n_tasks).mapInArrow(ret, "b binary") \
                .write.format("noop").mode("overwrite").save()
            ret_s.append(time.perf_counter() - t0)
        m["boundary.return_mbps"] = n_tasks * rows * row_bytes / 1e6 / statistics.median(ret_s)

        # boundary: the encode op written to a noop sink
        sc.setJobGroup("boundary.encode_noop", "boundary.encode_noop")
        noop_s = []
        for _ in range(2):
            t0 = time.perf_counter()
            for t in self.tables:
                encode_parquet_files(self.spark, t.src, **t.encode_kwargs) \
                    .write.format("noop").mode("overwrite").save()
            noop_s.append(time.perf_counter() - t0)
        m["boundary.encode_noop_s"] = statistics.median(noop_s)

        # boundary: the decode op written to a noop sink (the decode step
        # minus this is the share of the row-hash aggregate the check reads)
        sc.setJobGroup("boundary.decode_noop", "boundary.decode_noop")
        noop_s = []
        for _ in range(2):
            t0 = time.perf_counter()
            for t in self.tables:
                decode_table(self.spark.read.parquet(t.sink), list(t.ptypes), t.ptypes) \
                    .write.format("noop").mode("overwrite").save()
            noop_s.append(time.perf_counter() - t0)
        m["boundary.decode_noop_s"] = statistics.median(noop_s)

        # sink
        m["sink.write_s"] = statistics.median(w["write"] for w in untraced) - m["boundary.encode_noop_s"]
        m["sink.bytes_written"] = self.stored_bytes
        sc.setJobGroup("sink.read", "sink.read")
        read_s = []
        for _ in range(2):
            t0 = time.perf_counter()
            for t in self.tables:
                self.spark.read.parquet(t.sink).write.format("noop").mode("overwrite").save()
            read_s.append(time.perf_counter() - t0)
        m["sink.read_s"] = statistics.median(read_s)

        # filterapi: chunks kept per predicate, and the key set's own time
        sc.setJobGroup("filterapi", "filterapi")
        for p in self.probes + self.prune_probes:
            t = next(x for x in self.tables if x.name == p.table)
            pages = self.spark.read.parquet(t.sink)
            total = pages.select("split_id", "batch_id").distinct().count()
            t0 = time.perf_counter()
            kept = filterapi.filter_pages(pages, p.pred).select("split_id", "batch_id").distinct().count()
            m[f"filterapi.prune_s.{p.name}"] = time.perf_counter() - t0
            m[f"filterapi.chunks_kept_ratio.{p.name}"] = kept / total

        e = self.external_probe
        if e is not None:
            sc.setJobGroup("external.probe", "external.probe")
            ext_s = []
            for _ in range(2):
                t0 = time.perf_counter()
                self._external(e)
                ext_s.append(time.perf_counter() - t0)
            m["external.scan_s"] = statistics.median(ext_s)
            m["external.tasks"] = sum(self._completed_tasks("external.probe")) / len(ext_s)
        return m

    def _completed_tasks(self, group: str) -> list[int]:
        """Completed-task counts of the stages that ran for job ``group``."""
        st = self.spark.sparkContext.statusTracker()
        out = []
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    out.append(info.numCompletedTasks)
        return out

    def plan_counts(self, traced_passes: int) -> dict:
        """Stages and tasks per step from the status tracker, per pass."""
        completed = self._completed_tasks
        m = {}
        for step in STEPS:
            stages = completed(step) + (completed("scan.external") if step == "scan" else [])
            m[f"plan.stages.{step}"] = len(stages) / traced_passes
            m[f"plan.tasks.{step}"] = sum(stages) / traced_passes
            m[f"plan.exchanges.{step}"] = sum(self.exchanges[step]) / traced_passes
        m["external.tasks"] = sum(completed("scan.external")) / traced_passes
        return m


def event_log_tasks(event_log: str) -> dict[str, list[list[float]]]:
    """Per job group: per stage, the task durations (ms) from the event
    log. Read after the session stopped, when the log is complete."""
    stage_group: dict[int, str] = {}
    durs: dict[int, list[float]] = {}
    for path in sorted(glob.glob(f"{event_log}/**", recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    durs.setdefault(ev["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
    out: dict[str, list[list[float]]] = {}
    for sid in sorted(durs):
        out.setdefault(stage_group.get(sid, ""), []).append(durs[sid])
    return out


def event_log_metrics(event_log: str) -> dict:
    by_group = event_log_tasks(event_log)
    m = {}
    noop = sorted(d for stage in by_group.get("boundary.noop", []) for d in stage)
    if noop:
        m["boundary.task_ms_p50"] = statistics.median(noop)
        # the highest order statistic with ten samples beyond it
        m["boundary.task_ms_tail"] = noop[max(0, len(noop) - 11)]
    for step in STEPS:
        stages = by_group.get(step, []) + (by_group.get("scan.external", []) if step == "scan" else [])
        skews = []
        for s in stages:
            if len(s) >= 2 and statistics.median(s) > 0:
                skews.append((sum(s), max(s) / statistics.median(s)))
        # the skew of the stage that held the most task time
        m[f"plan.task_skew.{step}"] = max(skews)[1] if skews else 1.0
    return m


# ---------------------------------------------------------- workloads


class Webpages(SparkWorkload):
    """The north-star table: encode with zstd pages, sink, select, rebuild."""

    name = "webpages"
    ROWS = 200_000
    PARTITIONS = 8  # fixed: the generated bytes do not depend on the host

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq

        from pq_engine.datagen import webpages_df
        from pq_engine.spark import filterapi
        from pq_engine.spark.engine import arrow_type_to_ptype

        src = f"{self.work}/in/webpages"
        webpages_df(self.spark, self.ROWS, partitions=self.PARTITIONS, seed=self.seed) \
            .write.mode("overwrite").parquet(src)
        schema = pq.read_schema(glob.glob(f"{src}/*.parquet")[0])
        ptypes = {n: arrow_type_to_ptype(schema.field(n).type) for n in schema.names}
        t = Table("webpages", src, f"{self.work}/sink/webpages", ptypes,
                  {"page_compression": "zstd"})
        df = self.spark.read.parquet(src)
        plain = [F.sum(F.octet_length(c)) + 4 * F.count(c) for c in ("url", "html", "text", "lang")]
        r = df.agg(
            F.count(F.lit(1)).alias("n"), _hash_cols(df).alias("h"),
            (plain[0] + plain[1] + plain[2] + plain[3] + 8 * F.count("warc_ts")).alias("raw"),
        ).collect()[0]
        t.input_digest = (int(r["n"]), str(r["h"]))
        t.raw_bytes = int(r["raw"])
        self.tables = [t]
        proj = ["url", "warc_ts", "lang"]
        # one selective read: a dictionary miss on lang (every chunk pruned)
        self.probes = [Probe("miss", "webpages", filterapi.eq("lang", "qq"), proj)]
        for p in self.probes:
            p.expected = _rows(df.select(p.proj).filter(filterapi.residual_expr(p.pred)).collect())
        # traced run only: a 1% warc_ts range and a present url for
        # filterapi, and the url equality through spark.external
        r = df.agg(F.min(F.unix_micros("warc_ts")).alias("lo"), F.max(F.unix_micros("warc_ts")).alias("hi")).collect()[0]
        span = int(r["hi"]) - int(r["lo"])
        lo = int(r["lo"]) + span // 200
        first = sorted(glob.glob(f"{src}/*.parquet"))[0]
        url = pq.read_table(first, columns=["url"])["url"][0].as_py()
        self.prune_probes = [
            Probe("range", "webpages", _ts_range("warc_ts", lo, lo + span // 100, ntz=False), proj),
            Probe("eq", "webpages", filterapi.eq("url", url), proj),
        ]
        self.external_probe = ExternalScan(first, ("eq", "url", url), proj)


def _ts_range(col: str, lo: int, hi: int, ntz: bool):
    """[lo, hi) in epoch microseconds over a timestamp column (TIMESTAMP_NTZ
    when ``ntz``): a stats-level keep expression over the page min/max
    (which hold the micros) plus the exact row test."""
    from pq_engine.spark import filterapi

    keep = (F.col("max").cast("decimal(20,0)") >= lo) & (F.col("min").cast("decimal(20,0)") < hi)
    a, b = F.timestamp_micros(F.lit(lo)), F.timestamp_micros(F.lit(hi))
    if ntz:
        a, b = a.cast("timestamp_ntz"), b.cast("timestamp_ntz")
    c = F.col(f"`{col}`")
    return filterapi.udp(col, keep, (c >= a) & (c < b))


class TablesPushdown(SparkWorkload):
    """Small numeric tables: plan, per-task cost and metadata joins."""

    name = "tables_pushdown"

    def make_inputs(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from pq_engine.spark import filterapi
        from pq_engine.spark.engine import arrow_type_to_ptype

        os.makedirs(f"{self.work}/in", exist_ok=True)
        li, ev = inputs.lineitem(self.seed), inputs.events(self.seed)
        self.tables = []
        for name, tbl in (("lineitem", li), ("events", ev)):
            src = f"{self.work}/in/{name}.parquet"
            inputs.write_single_row_group(tbl, src)
            ptypes = {f.name: arrow_type_to_ptype(f.type) for f in tbl.schema}
            t = Table(name, src, f"{self.work}/sink/{name}", ptypes, {"with_bloom": True})
            t.raw_bytes = inputs.plain_bytes(tbl)
            t.input_digest = table_digest(self.spark.read.parquet(src))
            self.tables.append(t)
        rng = np.random.default_rng([self.seed, 3])
        key = int(li["l_orderkey"][int(rng.integers(0, li.num_rows))].as_py())
        ts = ev["ts"].cast("int64").to_numpy()
        lo = int(ts[len(ts) // 2])
        hi = int(ts[len(ts) // 2 + len(ts) // 100])
        li_cols = li.column_names
        self.probes = [
            Probe("miss", "lineitem", filterapi.eq("l_returnflag", "B"), li_cols),
            Probe("range", "events", _ts_range("ts", lo, hi, ntz=True), ev.column_names),
            Probe("eq", "lineitem", filterapi.eq("l_orderkey", key), li_cols),
        ]
        # expected rows come from the generated tables, filtered here
        tss = pc.cast(ev["ts"], pa.int64())
        masks = {
            "miss": pc.equal(li["l_returnflag"], "B"),
            "range": pc.and_(pc.greater_equal(tss, lo), pc.less(tss, hi)),
            "eq": pc.equal(li["l_orderkey"], key),
        }
        srcs = {"lineitem": li, "events": ev}
        for p in self.probes:
            p.expected = _arrow_rows(srcs[p.table].filter(masks[p.name]).select(p.proj))
        ext_cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                    "l_quantity", "l_extendedprice", "l_returnflag"]
        self.external = ExternalScan(
            self.tables[0].src, ("eq", "l_orderkey", key), ext_cols,
            _arrow_rows(li.filter(masks["eq"]).select(ext_cols)),
        )


WORKLOADS = {"webpages": Webpages, "tables_pushdown": TablesPushdown}
