"""Per-layer metrics of a traced run.

Every name is reported on every workload so the result always has the
same keys; a layer a workload never enters reads 0.  Times and byte or
row counts are means per traced op, except where a name says "per call"
below; ratios are ratios of sums.
"""

from __future__ import annotations

import statistics

from probes import self_time

RESUME_OP = (-1, "resume")  # op tag of the spans of a workload's resume step
# name -> unit; the order is the order in BENCHMARK.json
PER_LAYER = {
    "sjoin.build_s": "s",  # per points_in_polygons_join call
    "sjoin.py4j_calls": "count",  # per call
    "sjoin.cover_hit_ratio": "ratio",
    "sjoin.cover_df_build_s": "s",  # self time, per cover built
    "cells.cover_build_s": "s",  # per cover built
    "cells.cover_rows": "count",  # per cover built
    "cells.full_row_share": "ratio",
    "cells.points_in_full_share": "ratio",
    "scan.rows": "count",
    "scan.time_s": "s",
    "scan.bytes": "B",
    "exec.action_s": "s",
    "exec.join_yield": "ratio",
    "exec.broadcast_s": "s",
    "exec.broadcast_bytes": "B",
    "exec.shuffle_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.task_max_s": "s",
    "exec.task_skew": "ratio",
    "kernels.py_run_s": "s",
    "kernels.py_start_s": "s",
    "kernels.bytes_sent": "B",
    "kernels.bytes_returned": "B",
    "knn.call_s": "s",  # per call
    "knn.exec_s": "s",  # per kNN op
    "dissolve.call_s": "s",
    "dissolve.exec_s": "s",
    "overlay.call_s": "s",
    "overlay.candidate_yield": "ratio",
    "manifest.batch_s": "s",  # per batch
    "manifest.write_s": "s",  # per batch
    "manifest.done_scan_s": "s",  # per manifest read
    "manifest.bytes_written": "B",
    "manifest.skipped_batches": "count",
    "trace.overhead_s": "s",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(wl, runner, tracer) -> dict:
    traced = [o for o in runner.ops if o["traced"]]
    untraced = [o for o in runner.ops if not o["traced"]]
    op_ids = {(o["i"], o["kind"]) for o in traced}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    n = max(len(traced), 1)

    def named(name, among=spans):
        return [s for s in among if s["name"] == name]

    resume = [s for s in tracer.spans if s["op"] == RESUME_OP]

    def dur(s):
        return s["end"] - s["start"]

    def op_sum(key):
        return sum(o["layers"].get(key, 0.0) for o in traced) / n

    def action_for(prefix):
        ops = {(o["i"], o["kind"]) for o in traced if o["kind"].startswith(prefix)}
        return _mean(dur(s) for s in named("exec.action") if s["op"] in ops)

    builds = named("sjoin.build")
    st = tracer.stats
    cover_rows = sum(st["cover_rows"])
    join_in = sum(o["layers"].get("_join_in", 0.0) for o in traced)
    skews = [o["layers"]["_skew"] for o in traced if "_skew" in o["layers"]]
    ov_rows = sum(st["overlay_rows_out"])
    ov_cand = sum(st["overlay_candidates"]) * max(len(st["overlay_rows_out"]), 1)
    overhead = 0.0
    if traced and untraced:
        overhead = (statistics.median(o["s"] for o in traced)
                    - statistics.median(o["s"] for o in untraced))
    values = {
        "sjoin.build_s": _mean(dur(s) for s in builds),
        "sjoin.py4j_calls": _mean(s["py4j"] for s in builds),
        "sjoin.cover_hit_ratio": _mean(1.0 if s.get("hit") else 0.0 for s in builds),
        "sjoin.cover_df_build_s": _mean(self_time(spans, s) for s in named("sjoin.cover_df_build")),
        "cells.cover_build_s": _mean(dur(s) for s in named("cells.cover_build")),
        "cells.cover_rows": _mean(st["cover_rows"]),
        "cells.full_row_share": sum(st["cover_full_rows"]) / cover_rows if cover_rows else 0.0,
        "cells.points_in_full_share": _mean(st["points_in_full_share"]),
        "scan.rows": op_sum("scan.rows"),
        "scan.time_s": op_sum("scan.time_s"),
        "scan.bytes": op_sum("scan.bytes"),
        "exec.action_s": sum(dur(s) for s in named("exec.action")) / n,
        "exec.join_yield": (sum(o["layers"].get("_join_out", 0.0) for o in traced) / join_in
                            if join_in else 0.0),
        "exec.broadcast_s": op_sum("exec.broadcast_s"),
        "exec.broadcast_bytes": op_sum("exec.broadcast_bytes"),
        "exec.shuffle_bytes": op_sum("exec.shuffle_bytes"),
        "exec.spill_bytes": op_sum("exec.spill_bytes"),
        "exec.task_max_s": op_sum("exec.task_max_s"),
        "exec.task_skew": _mean(skews),
        "kernels.py_run_s": op_sum("kernels.py_run_s"),
        "kernels.py_start_s": op_sum("kernels.py_start_s"),
        "kernels.bytes_sent": op_sum("kernels.bytes_sent"),
        "kernels.bytes_returned": op_sum("kernels.bytes_returned"),
        "knn.call_s": _mean(dur(s) for s in named("knn.call")),
        "knn.exec_s": action_for("knn"),
        "dissolve.call_s": _mean(dur(s) for s in named("dissolve.call")),
        "dissolve.exec_s": action_for("buffdissexp"),
        "overlay.call_s": _mean(dur(s) for s in named("overlay.call")),
        "overlay.candidate_yield": ov_rows / ov_cand if ov_cand else 0.0,
        "manifest.batch_s": _mean(dur(s) for s in named("manifest.batch", resume)),
        "manifest.write_s": _mean(dur(s) for s in named("manifest.write", resume)),
        "manifest.done_scan_s": _mean(dur(s) for s in named("manifest.done_scan", resume)),
        "manifest.bytes_written": _mean(getattr(wl, "bytes_written", [])),
        "manifest.skipped_batches": _mean(getattr(wl, "skipped", [])),
        "trace.overhead_s": overhead,
    }
    return {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
