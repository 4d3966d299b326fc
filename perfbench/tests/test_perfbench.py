import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import gen
import oracle
from conftest import BENCH, REPO
from layers import PER_LAYER

# the per-layer metrics each workload's ops actually exercise
LAYERS_RUN = {
    "pip_mixed": [
        "sjoin.build_s", "sjoin.py4j_calls", "sjoin.cover_hit_ratio", "sjoin.cover_df_build_s",
        "cells.cover_build_s", "cells.cover_rows", "cells.full_row_share",
        "cells.points_in_full_share", "kernels.py_run_s", "kernels.bytes_sent",
        "scan.rows", "scan.time_s", "scan.bytes", "exec.action_s", "exec.join_yield",
        "exec.broadcast_s", "exec.broadcast_bytes", "exec.task_max_s", "exec.task_skew",
        "manifest.batch_s", "manifest.write_s", "manifest.done_scan_s",
        "manifest.bytes_written", "manifest.skipped_batches",
    ],
    "geom_kernels": [
        "kernels.py_run_s", "kernels.bytes_sent", "kernels.bytes_returned",
        "knn.call_s", "knn.exec_s", "dissolve.call_s", "dissolve.exec_s",
        "overlay.call_s", "overlay.candidate_yield", "exec.action_s", "scan.rows",
    ],
}


def _lake_bytes(tmp_path, seed, name):
    path = tmp_path / name
    gen.write_lake(str(path), gen.lake_points(seed, 5_000))
    return b"".join((path / f).read_bytes() for f in sorted(os.listdir(path)))


def test_same_seed_same_inputs(tmp_path):
    assert _lake_bytes(tmp_path, 7, "a") == _lake_bytes(tmp_path, 7, "b")
    assert _lake_bytes(tmp_path, 7, "a") != _lake_bytes(tmp_path, 8, "c")

    def layer_wkb(seed):
        return [gen.wkb_polygon(r) for _, r in gen.polygon_layer(seed, 3, 3, 24)]

    assert layer_wkb(7) == layer_wkb(7)
    assert layer_wkb(7) != layer_wkb(8)


def _brute_pip(pts, layer):
    out = set()
    for pid, rings in layer:
        inside = np.zeros(len(pts["x"]), bool)
        for ring in rings:
            x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
            py = pts["y"][:, None]
            straddle = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= ((straddle & (pts["x"][:, None] < xint)).sum(axis=1) % 2).astype(bool)
        out |= {(int(u), pid) for u in pts["uid"][inside]}
    return out


def _pip(pts, layer):
    n = len(pts["uid"])
    e = gen.edges_of(layer)
    e["layer"] = np.zeros(len(e["pid"]), np.int64)
    return oracle.pip_pairs({"layer": np.zeros(n, np.int64), "uid": pts["uid"],
                             "x": pts["x"], "y": pts["y"]}, e)


def test_banded_pip_oracle_matches_brute_force():
    pts = gen.lake_points(3, 4_000)
    layer = gen.polygon_layer(3, 0, 3, 40, hole_share=0.5)
    got = _pip(pts, layer)
    assert set(zip(got["uid"].tolist(), got["pid"].tolist())) == _brute_pip(pts, layer)
    assert len(got["uid"]) > 1_000


def test_digest_catches_dropped_row_and_wrong_key():
    pts = gen.lake_points(4, 3_000)
    got = _pip(pts, gen.polygon_layer(4, 0, 3, 24))
    uid, pid = got["uid"], got["pid"]
    want = oracle.digest(uid, pid)
    assert oracle.digest(uid[::-1].copy(), pid[::-1].copy()) == want  # order-free
    assert oracle.digest(uid[1:], pid[1:]) != want
    wrong = pid.copy()
    wrong[0] += 1
    assert oracle.digest(uid, wrong) != want
    assert oracle.digest(uid, wrong)[0] == want[0]  # caught by the hash, not the count


def test_xxh64_matches_spark(spark):
    from pyspark.sql import functions as F

    a = np.array([0, 1, -1, 42, 2**62, -(2**63), 123_456_789], dtype=np.int64)
    b = a ^ 0x5555
    df = spark.createDataFrame([(int(x), int(y)) for x, y in zip(a, b)], "a long, b long")
    got = [r[0] for r in df.select(F.xxhash64("a", "b")).collect()]
    assert got == oracle.row_hash(a, b).tolist()


def test_blob_components_union_find():
    x = np.array([0.0, 10.0, 100.0, 300.0, 305.0])
    y = np.zeros(5)
    comps = oracle.blob_components(x, y, r=6.0)
    assert sorted(map(list, comps)) == [[0, 1], [2], [3, 4]]


def _run(cwd, *args, timeout=240):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", sorted(LAYERS_RUN))
def test_traced_run_reports_every_layer(workload):
    r = _run(REPO, "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "1")
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(PER_LAYER)
    zero = [k for k in LAYERS_RUN[workload] if not res["metrics"][k]["value"] > 0]
    assert not zero, zero


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    r = _run(str(tmp_path), "--workload", "pip_mixed", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=60)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
