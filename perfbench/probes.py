"""Outside-in probes for the traced run; nothing here edits the package.

* :class:`Tracer` records spans (name, op, parent, start, end, py4j calls)
  around calls into the engine's public functions, patched at the module
  attribute the caller resolves (``sjoin`` imports ``covers_for_polygons``
  by name, so that is where it is wrapped), and counts py4j round trips
  by wrapping the gateway client's ``send_command``.
* :class:`StatusStore` reads Spark's SQL status store after each action
  (``planGraph`` + ``executionMetrics``) and folds node metrics into the
  per-layer names the benchmark reports.
* :class:`RssSampler` samples the resident set of this process and all
  its descendants (JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# ------------------------------------------------------------------ spans
class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True  # off: wrappers pass straight through
        self.op = None  # (index, kind) of the op being run
        self.stats: dict[str, list] = defaultdict(list)  # post-op probe results
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._undo: list = []
        self.deferred: list = []  # probes to run after the op's timing

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
            "py4j0": self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    def patch(self, owner, attr: str, wrapper_factory):
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper_factory(orig))
        self._undo.append((owner, attr, orig))

    def timed(self, owner, attr: str, name: str, on_result=None):
        """Wrap ``owner.attr`` in a span; ``on_result(span, args, kwargs,
        result)`` may record attributes or defer a post-op probe."""
        tracer = self

        def factory(orig):
            def wrapper(*args, **kwargs):
                if not tracer.enabled:
                    return orig(*args, **kwargs)
                with tracer.span(name) as sp:
                    out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, out)
                return out

            return wrapper

        self.patch(owner, attr, factory)

    def count_py4j(self, gateway_client):
        tracer = self

        def factory(orig):
            def send_command(*args, **kwargs):
                if tracer.enabled:
                    tracer.py4j_calls += 1
                return orig(*args, **kwargs)

            return send_command

        self.patch(gateway_client, "send_command", factory)

    def restore(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def run_deferred(self):
        pending, self.deferred = self.deferred, []
        for fn in pending:
            fn()


def self_time(spans: list[dict], sp: dict) -> float:
    """Span duration minus the time its direct children cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == sp["id"])
    return (sp["end"] - sp["start"]) - kids


# ----------------------------------------------------------- status store
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?"


def parse_metric(text: str) -> dict:
    """Parse a status-store metric string into total/min/med/max.

    Forms: ``'1,234'``, ``'54.6 MiB'``, ``'35 ms'`` and
    ``'total (min, med, max (stageId: taskId))\\n21.8 s (5.3 s, 5.5 s,
    5.6 s (stage 14.0: task 54))'``.  Sizes come back in bytes, times in
    seconds."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    vals = [
        float(num.replace(",", "")) * _UNITS.get(unit or "", 1)
        for num, unit in re.findall(_NUM, body.split("(stage")[0])
    ]
    if not vals:
        return {"total": 0.0}
    out = {"total": vals[0]}
    if len(vals) >= 4:
        out.update(min=vals[1], med=vals[2], max=vals[3])
    return out


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Reads every SQL execution finished since the last call."""

    def __init__(self, spark):
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = int(self._store.executionsCount())

    def skip(self):
        self._seen = int(self._store.executionsCount())

    def read_new(self) -> list[list[tuple[str, dict]]]:
        """One entry per new execution: ``[(node name, {metric: parsed})]``."""
        store = self._store
        self._bus.waitUntilEmpty()  # metrics land via the async listener bus
        total = int(store.executionsCount())
        out = []
        if total > self._seen:
            for ex in _iter(store.executionsList(self._seen, total - self._seen)):
                eid = ex.executionId()
                values = store.executionMetrics(eid)
                nodes = []
                for node in _iter(store.planGraph(eid).allNodes()):
                    ms = {}
                    for m in _iter(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            ms[m.name()] = parse_metric(v.get())
                    nodes.append((node.name(), ms))
                out.append(nodes)
        self._seen = total
        return out


_PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
             "MapInArrow", "PythonMapInArrow", "FlatMapCoGroupsInPandas")
_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def fold_executions(executions) -> dict[str, float]:
    """Per-layer sums over a set of executions (one op's worth)."""
    acc: dict[str, float] = defaultdict(float)

    def g(ms, name, key="total"):
        return ms.get(name, {}).get(key, 0.0)

    for nodes in executions:
        scan_rows = join_rows = 0.0
        for name, ms in nodes:
            if name.startswith("Scan parquet"):
                scan_rows += g(ms, "number of output rows")
                acc["scan.time_s"] += g(ms, "scan time")
                acc["scan.bytes"] += g(ms, "size of files read")
            elif name == "BroadcastExchange":
                acc["exec.broadcast_s"] += (g(ms, "time to collect") + g(ms, "time to build")
                                            + g(ms, "time to broadcast"))
                acc["exec.broadcast_bytes"] += g(ms, "data size")
            elif name.startswith(_JOINS):
                join_rows += g(ms, "number of output rows")
            elif name.startswith(_PY_NODES):
                acc["kernels.py_run_s"] += g(ms, "time to run Python workers")
                acc["kernels.py_start_s"] += (g(ms, "time to start Python workers")
                                              + g(ms, "time to initialize Python workers"))
                acc["kernels.bytes_sent"] += g(ms, "data sent to Python workers")
                acc["kernels.bytes_returned"] += g(ms, "data returned from Python workers")
            acc["exec.shuffle_bytes"] += g(ms, "shuffle bytes written")
            acc["exec.spill_bytes"] += g(ms, "spill size")
            if name.startswith("WholeStageCodegen") and "duration" in ms:
                d = ms["duration"]
                mx = d.get("max", d["total"])
                if mx > acc["exec.task_max_s"]:
                    acc["exec.task_max_s"] = mx
                    med = d.get("med", d["total"])
                    acc["_skew"] = mx / med if med > 0 else 1.0
        acc["scan.rows"] += scan_rows
        if join_rows:
            acc["_join_out"] += join_rows
            acc["_join_in"] += scan_rows
    return acc


# ------------------------------------------------------------------ clock
def cpu_times() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine so far, summed over its
    CPUs: user+nice+system+irq+softirq, and the time the hypervisor ran
    something else while a CPU here was runnable.  (0, 0) without
    /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0.0, 0.0
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, (v[7] if len(v) > 7 else 0) / hz


class Clock:
    """Times a block.  ``wall`` is the elapsed wall time; ``s`` is that
    time with the hypervisor's stolen CPU time taken out.

    Steal accrues only while a CPU of this machine is runnable, so
    ``busy + steal`` is the CPU time the block's processes asked for and
    ``busy`` what they got: ``s = wall * busy / (busy + steal)``.  On a
    machine that steals nothing, ``s == wall``.  Co-tenants on a shared
    host steal in bursts that last minutes; without this a benchmark run
    measures its neighbours."""

    def __enter__(self):
        self._cpu = cpu_times()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        busy, steal = (b - a for a, b in zip(self._cpu, cpu_times()))
        self.steal = steal
        self.s = self.wall * busy / (busy + steal) if busy + steal > 0 else self.wall
        return False


# -------------------------------------------------------------------- RSS
def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of ``root`` and every descendant process."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    todo = [root or os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


RSS_INTERVAL = 0.1  # seconds between RSS samples


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss_bytes`."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return False


# ------------------------------------------------------------ engine hooks
FULL_SHARE_PROBES = 3  # covers whose points-in-full-cells share is measured


def install_engine_probes(tracer: Tracer):
    """Wrap the engine's public entry points (and the names ``sjoin``
    resolves internally) in spans.  Counting and share probes that need
    their own Spark job are deferred until the op's timing has ended."""
    from pyspark.sql import functions as F

    from ssb_sgis_spark.cells import cell_of_xy_col
    from ssb_sgis_spark.operators import dissolve, knn, overlay, sjoin
    from ssb_sgis_spark.plans import manifest

    def join_factory(orig):
        def points_in_polygons_join(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            before = set(sjoin._COVER_CACHE)
            with tracer.span("sjoin.build") as sp:
                out = orig(*args, **kwargs)
            sp["hit"] = not (set(sjoin._COVER_CACHE) - before)
            return out

        return points_in_polygons_join

    tracer.patch(sjoin, "points_in_polygons_join", join_factory)
    tracer.timed(sjoin, "covers_for_polygons", "cells.cover_build")

    def cover_rows(sp, args, kwargs, out):
        df = out[0]

        def probe():
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.col("_full").cast("long")).alias("full")).first()
            tracer.stats["cover_rows"].append(int(row["n"]))
            tracer.stats["cover_full_rows"].append(int(row["full"] or 0))

        tracer.deferred.append(probe)

    tracer.timed(sjoin, "build_cover_df", "sjoin.cover_df_build", cover_rows)

    seen_covers: set[int] = set()

    def full_share(sp, args, kwargs, out):
        points, cover_df, res = args[0], args[5], args[4]
        x_col, y_col, max_distance = args[9], args[10], args[12]
        if (max_distance is not None or id(cover_df) in seen_covers
                or len(seen_covers) >= FULL_SHARE_PROBES):
            return
        seen_covers.add(id(cover_df))

        def probe():
            cells = points.select(cell_of_xy_col(F.col(x_col), F.col(y_col), res).alias("_c"))
            cov = F.broadcast(cover_df.select("cell", "_full"))
            row = (cells.join(cov, cells["_c"] == cov["cell"])
                   .agg(F.avg(F.col("_full").cast("double")).alias("s")).first())
            tracer.stats["points_in_full_share"].append(float(row["s"] or 0.0))

        tracer.deferred.append(probe)

    tracer.timed(sjoin, "_pip_join_with_cover", "sjoin.plan", full_share)
    tracer.timed(knn, "get_k_nearest_neighbors", "knn.call")
    tracer.timed(dissolve, "buffdissexp_by_cluster", "dissolve.call")

    def candidates(sp, args, kwargs, out):
        if tracer.stats["overlay_candidates"]:
            return
        df1, df2 = args[0], args[1]

        def probe():
            pairs, _ = overlay.candidate_pairs(df1, df2)
            tracer.stats["overlay_candidates"].append(pairs.count())

        tracer.deferred.append(probe)

    tracer.timed(overlay, "clean_overlay", "overlay.call", candidates)
    tracer.timed(manifest.TiledRun, "done_batches", "manifest.done_scan")
