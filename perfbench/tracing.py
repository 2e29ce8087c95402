"""Spans, self-time rollup and peak-RSS sampling for the benchmark.

Spans are recorded from the benchmark's own code, around each call into a
layer of the engine. A span is (id, name, start, end, parent, op): ``name``
is ``<layer>.<call>``, ``op`` is the pass that caused it. Spans stay in
memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import traceback


class Ops:
    """Counts checked ops. ``run`` times ``op`` alone, then calls
    ``check(result)`` with the clock stopped; ``check`` returns True when
    the result is right. A wrong result or an exception counts as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, what: str, op, check) -> float:
        """Seconds that ``op`` took."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception:
            wall = time.perf_counter() - t0
            self._fail(f"{what}: {traceback.format_exc(limit=3)}")
            return wall
        wall = time.perf_counter() - t0
        try:
            ok = check(out)
        except Exception:
            self._fail(f"{what}: check raised {traceback.format_exc(limit=3)}")
        else:
            if not ok:
                self._fail(f"{what}: wrong output")
        return wall

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)


class NullTracer:
    """Tracing off: every span is a no-op."""

    enabled = False
    op = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def step_table(self, root_prefix: str) -> dict[str, dict[str, float]]:
        """Per step (a child of a root span named ``root_prefix``), the
        step's wall and the self seconds of each layer under it, summed over
        roots. A span's self time is its duration minus its children's, so
        a step's layer columns add up to its wall."""
        roots = {s["id"] for s in self.spans if s["parent"] is None and s["name"].startswith(root_prefix)}
        kids: dict[int, float] = {}
        step_of: dict[int, str] = {}
        for s in self.spans:  # parents precede their children
            p = s["parent"]
            if p is None:
                continue
            kids[p] = kids.get(p, 0.0) + s["end"] - s["start"]
            if p in roots:
                step_of[s["id"]] = s["name"]
            elif p in step_of:
                step_of[s["id"]] = step_of[p]
        table: dict[str, dict[str, float]] = {}
        for s in self.spans:
            step = step_of.get(s["id"])
            if step is None:
                continue
            dur = s["end"] - s["start"]
            row = table.setdefault(step, {"wall": 0.0})
            if s["parent"] in roots:
                row["wall"] += dur
            layer = s["name"].split(".", 1)[0]
            row[layer] = row.get(layer, 0.0) + dur - kids.get(s["id"], 0.0)
        return table

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# ------------------------------------------------------------ peak RSS


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    # "5" resets the peak resident set size (proc(5), clear_refs)
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p:
                out.append(c)
                frontier.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class PeakRss:
    """Peak RSS (MB) of the Python processes under ``root`` (the Spark
    JVM's Python workers), or of ``root`` itself when ``include_root``.
    ``reset()`` zeroes the kernel's per-process peak so set-up is not
    counted; a sampling thread keeps the peak of workers that exit."""

    PERIOD_S = 0.2  # sampling period of the worker scan

    def __init__(self, root: int, include_root: bool = False):
        self.root = root
        self.include_root = include_root
        self.peak_kb = 0
        self._seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None

    def _pids(self) -> list[int]:
        if self.include_root:
            return [self.root]
        return [p for p in _descendants(self.root) if _is_python(p)]

    def reset(self) -> None:
        with self._lock:
            for p in self._pids():
                _reset_hwm(p)
            self._seen.clear()
            self.peak_kb = 0

    def sample(self) -> None:
        with self._lock:
            for p in self._pids():
                self._seen[p] = max(self._seen.get(p, 0), _vm_hwm_kb(p))
            if self._seen:
                self.peak_kb = max(self.peak_kb, max(self._seen.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def start(self) -> None:
        if not self.include_root:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0
