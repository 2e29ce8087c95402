#!/usr/bin/env python3
"""pq-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workloads (see perfbench/README.md):

  webpages         encode a seeded webpages table with zstd pages, sink the
                   page table, run a fixed selective-read set, decode it all
  parquet_file     in-process, no Spark: page table -> .parquet through the
                   `pq to-parquet` path, then the interop reader
  tables_pushdown  encode seeded lineitem/events with blooms, run the fixed
                   predicate set and one external scan, decode both (not in
                   BENCHMARK.json: its runs are too long for the gate)

One driver thread runs one op at a time (closed loop, one client). Set-up
(session, inputs, warm-up) is timed apart; then passes run until
``--seconds`` have passed. Every op's output is checked off the clock.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
and traced passes alternately plus the per-layer probes and prints the
per-layer metrics.
The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "6g"  # well below a 15 GB host; get_spark defaults to 24g
# Set-up ends with untimed warm-up passes, the same number on every
# workload: a fresh session's first pass takes about twice a later one's,
# and the pass after it is still 10-20% slower.
WARMUP_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "encode_mbps": "MB/s",
    "decode_mbps": "MB/s",
    "scan_s_p50": "s",
    "pass_s_p50": "s",
    "stored_ratio": "ratio",
    "worker_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from inprocess import KERNEL_SLOTS

    u = {}
    for s in KERNEL_SLOTS:
        u[f"kernels.stats_s.{s}"] = "s"
        u[f"kernels.encode_s.{s}"] = "s"
        u[f"kernels.decode_s.{s}"] = "s"
        u[f"kernels.encoded_bytes.{s}"] = "bytes"
    u["kernels.encode_mbps_core"] = "MB/s"
    u["kernels.decode_mbps_core"] = "MB/s"
    u.update({
        "boundary.task_ms_p50": "ms",
        "boundary.task_ms_tail": "ms",
        "boundary.return_mbps": "MB/s",
        "boundary.encode_noop_s": "s",
        "boundary.decode_noop_s": "s",
    })
    for step in ("encode", "scan", "decode"):
        u[f"plan.stages.{step}"] = "count"
        u[f"plan.tasks.{step}"] = "count"
        u[f"plan.exchanges.{step}"] = "count"
        u[f"plan.task_skew.{step}"] = "ratio"
    for p in ("miss", "range", "eq"):
        u[f"filterapi.chunks_kept_ratio.{p}"] = "ratio"
        u[f"filterapi.prune_s.{p}"] = "s"
    u.update({
        "sink.write_s": "s",
        "sink.bytes_written": "bytes",
        "sink.read_s": "s",
        "external.scan_s": "s",
        "external.tasks": "count",
        "interop.write_s": "s",
        "interop.read_s": "s",
        "interop.read_filtered_s": "s",
        "interop.pages_scanned_ratio": "ratio",
        "interop.file_bytes": "bytes",
        "setup.session_s": "s",
        "setup.gen_s": "s",
        "setup.warmup_s": "s",
    })
    for layer in LAYERS:
        u[f"self_s.{layer}"] = "s"
    u["trace.overhead_s"] = "s"
    return u


# span-name prefixes: the layer each traced call belongs to
LAYERS = ("bench", "engine", "filterapi", "sink", "spark", "external", "cli", "interop")


def pin_environment(work: str, cpus: int) -> dict:
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "PQ_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": f"{work}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    os.environ.update(settings)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(f"{work}/spark-local", exist_ok=True)
    return settings


def warm_up(w) -> None:
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        w.run_pass()
    w.setup["warmup_s"] = time.perf_counter() - t0
    w.rss.reset()  # peak RSS of the timed passes only


def measure(w, seconds: float, tracer, null) -> tuple[list[dict], list[dict]]:
    """Passes until ``seconds`` have passed; with a tracer, untraced and
    traced passes alternate."""
    untraced, traced = [], []
    deadline = time.perf_counter() + seconds
    while True:
        w.tr = null
        untraced.append(w.run_pass())
        if tracer is not None:
            w.tr = tracer
            tracer.op = len(traced)
            traced.append(w.run_pass())
            w.tr = null
        if time.perf_counter() >= deadline:
            return untraced, traced


def med(walls: list[dict], key: str) -> float:
    return statistics.median(w[key] for w in walls)


def end_to_end(w, untraced: list[dict], setup_s: float, peak_mb: float, raw: int) -> dict:
    return {
        "setup_s": setup_s,
        "encode_mbps": raw / 1e6 / med(untraced, "write"),
        "decode_mbps": raw / 1e6 / med(untraced, "decode"),
        "scan_s_p50": med(untraced, "scan"),
        "pass_s_p50": med(untraced, "pass_"),
        "stored_ratio": w.stored_bytes / raw,
        "worker_peak_rss_mb": peak_mb,
    }


def run_spark(name: str, seed: int, seconds: float, trace: bool, work: str, cpus: int, tracer) -> tuple:
    import pyarrow.parquet as pq

    import sparkrun
    from inprocess import kernel_metrics
    from tracing import NullTracer

    null = NullTracer()
    event_log = f"{work}/eventlog" if trace else None
    w = sparkrun.WORKLOADS[name](seed, work, cpus, null, event_log)
    try:
        w.start()
        warm_up(w)
        setup_s = w.setup["session_s"] + w.setup["gen_s"] + w.setup["warmup_s"]
        untraced, traced = measure(w, seconds, tracer, null)
        peak_mb = w.rss.stop()
        metrics = end_to_end(w, untraced, setup_s, peak_mb, w.raw_bytes)
        layers = {}
        if trace:
            layers.update(w.plan_counts(len(traced)))
            layers.update(w.layer_probes(untraced))
            if w.external is not None:
                layers["external.scan_s"] = med(untraced, "external")
            if name == "webpages":
                import glob

                ktables = [pq.read_table(sorted(glob.glob(f"{w.tables[0].src}/*.parquet"))[0])]
                kcomp = "zstd"
            else:
                ktables = [pq.read_table(t.src) for t in w.tables]
                kcomp = None
            layers.update(kernel_metrics(ktables, kcomp))
    finally:
        if getattr(w, "spark", None) is not None:
            sparkrun.stop_session(w.spark)
    if trace:
        layers.update(sparkrun.event_log_metrics(event_log))
        layers.update({f"setup.{k}": v for k, v in w.setup.items()})
    return w, metrics, layers, untraced, traced


def run_parquet_file(seed: int, seconds: float, trace: bool, work: str, tracer) -> tuple:
    from inprocess import ParquetFile, kernel_metrics
    from tracing import NullTracer

    null = NullTracer()
    os.makedirs(work, exist_ok=True)
    w = ParquetFile(seed, work, null)
    w.start()
    warm_up(w)
    setup_s = w.setup["gen_s"] + w.setup["warmup_s"]
    untraced, traced = measure(w, seconds, tracer, null)
    metrics = end_to_end(w, untraced, setup_s, w.rss.stop(), w.raw_bytes)
    layers = {}
    if trace:
        layers.update(w.layer_metrics(untraced))
        layers.update(kernel_metrics(list(w.inputs.values()), "zstd"))
        layers.update({f"setup.{k}": v for k, v in w.setup.items()})
    return w, metrics, layers, untraced, traced


def print_rollup(table: dict) -> None:
    """Self seconds by layer for each step, summed over the traced passes:
    each row's layer columns add up to the step's wall."""
    print(f"{'step':<14}{'wall_s':>9}  " + "".join(f"{l:>10}" for l in LAYERS))
    for step, row in table.items():
        cells = "".join(f"{row.get(l, 0.0):>10.3f}" for l in LAYERS)
        print(f"{step:<14}{row['wall']:>9.3f}  {cells}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["webpages", "tables_pushdown", "parquet_file"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # delete the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "pq_engine", "__init__.py")):
        print(f"perfbench: no pq_engine package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    settings = pin_environment(work, cpus)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from tracing import Tracer

    tracer = Tracer() if args.trace else None
    try:
        if args.workload == "parquet_file":
            w, metrics, layers, untraced, traced = run_parquet_file(
                args.seed, args.seconds, bool(args.trace), work, tracer)
        else:
            w, metrics, layers, untraced, traced = run_spark(
                args.workload, args.seed, args.seconds, bool(args.trace), work, cpus, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    settings.update({"local": f"local[{cpus}]", "workload": args.workload, "seed": args.seed,
                     "passes": len(untraced), "traced_passes": len(traced), "setup": w.setup,
                     "pass_s": [round(u["pass_"], 3) for u in untraced],
                     "step_s": {k: [round(u[k], 3) for u in untraced] for k in ("write", "scan", "decode")}})
    if traced:
        settings["traced_step_s_p50"] = {k: round(med(traced, k), 3) for k in ("write", "scan", "decode")}
    print("settings " + json.dumps(settings, sort_keys=True))
    for f in w.ops.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        steps = tracer.step_table("bench.pass")
        for layer in LAYERS:
            layers[f"self_s.{layer}"] = sum(r.get(layer, 0.0) for r in steps.values()) / len(traced)
        layers["trace.overhead_s"] = med(traced, "pass_") - med(untraced, "pass_")
        print_rollup(steps)
        values = {k: float(layers.get(k, 0.0)) for k in units}
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                    {"settings": settings, "metrics": values})
    else:
        units = END_TO_END
        values = {k: float(metrics[k]) for k in units}
    for k, u in units.items():
        print(f"{k:<40}{values[k]:>16.6g} {u}")
    print(json.dumps({
        "correct": w.ops.failed == 0,
        "attempted": w.ops.attempted,
        "failed": w.ops.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
