"""Seeded inputs for the benchmark: a point "page lake" and polygon layers.

Everything here is plain numpy + pyarrow and writes its own WKB, so the
inputs never pass through the engine under test.  The same
``(seed, parameters)`` always gives byte-identical files; a materialised
input is cached under its seed and size so repeated set-ups only read it.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# planar metres (EPSG:25833-like), well inside the engine's cell domain
REGION = (200_000.0, 6_600_000.0, 300_000.0, 6_700_000.0)
HOT_SIGMA = 1_500.0  # hot-spot spread (m)
LAKE_FILES = 8  # parquet files per lake, so the scan spreads over cores
# pairs of blob points within this share of 2r are redrawn (see
# separated_points)
BLOB_GUARD = 1e-3


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def cache_key(kind: str, seed: int, **params) -> str:
    blob = json.dumps({"kind": kind, "seed": int(seed), **params}, sort_keys=True)
    return f"{kind}-s{int(seed)}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


def hot_center(seed: int) -> tuple[float, float]:
    rng = _rng(seed, 7)
    x0, y0, x1, y1 = REGION
    w, h = x1 - x0, y1 - y0
    return (
        float(x0 + w * rng.uniform(0.25, 0.75)),
        float(y0 + h * rng.uniform(0.25, 0.75)),
    )


def lake_points(seed: int, n: int, hot_share: float = 0.4) -> dict[str, np.ndarray]:
    """``n`` page points: a ``hot_share`` fraction around one seeded hot
    spot (gaussian, clipped to the region), the rest uniform."""
    rng = _rng(seed, 1)
    x0, y0, x1, y1 = REGION
    n_hot = int(round(n * hot_share))
    hx, hy = hot_center(seed)
    x = np.empty(n)
    y = np.empty(n)
    x[:n_hot] = np.clip(rng.normal(hx, HOT_SIGMA, n_hot), x0, x1 - 1e-6)
    y[:n_hot] = np.clip(rng.normal(hy, HOT_SIGMA, n_hot), y0, y1 - 1e-6)
    x[n_hot:] = rng.uniform(x0, x1, n - n_hot)
    y[n_hot:] = rng.uniform(y0, y1, n - n_hot)
    order = rng.permutation(n)
    return {
        "uid": np.arange(n, dtype=np.int64),
        "x": x[order],
        "y": y[order],
        "bytes": rng.integers(500, 200_000, n, dtype=np.int32),
    }


def write_lake(path: str, pts: dict[str, np.ndarray]) -> None:
    """Parquet lake of ``LAKE_FILES`` files."""
    os.makedirs(path, exist_ok=True)
    n = len(pts["uid"])
    bounds = np.linspace(0, n, LAKE_FILES + 1).astype(int)
    for i in range(LAKE_FILES):
        sl = slice(bounds[i], bounds[i + 1])
        tbl = pa.table({k: v[sl] for k, v in pts.items()})
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=1 << 20)


def _star_ring(rng, cx, cy, r, n_vertices, wobble, clockwise=False):
    """Closed star-shaped ring: smooth seeded harmonics plus per-vertex
    jitter on the radius, so it is simple (angles strictly increase)."""
    t = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    t = np.unique(t)
    rad = np.ones_like(t)
    for k in (2, 3, 5, 7):
        rad += wobble / k * np.sin(k * t + rng.uniform(0, 2 * np.pi))
    rad *= 1.0 + 0.02 * rng.uniform(-1, 1, len(t))
    xs = cx + r * rad * np.cos(t)
    ys = cy + r * rad * np.sin(t)
    ring = np.column_stack([xs, ys])
    if clockwise:
        ring = ring[::-1]
    return np.vstack([ring, ring[:1]])


def polygon_layer(
    seed: int,
    layer: int,
    grid: int,
    n_vertices: int,
    hole_share: float = 0.25,
) -> list[tuple[int, list[np.ndarray]]]:
    """``grid x grid`` jittered star polygons over ``REGION``; neighbours
    overlap a little, ``hole_share`` of them carry one hole.  Returns
    ``[(pid, [exterior, hole?]), ...]`` with pids unique across layers."""
    rng = _rng(seed, 2, layer)
    x0, y0, x1, y1 = REGION
    sx = (x1 - x0) / grid
    sy = (y1 - y0) / grid
    out = []
    for i in range(grid):
        for j in range(grid):
            cx = x0 + (i + 0.5 + rng.uniform(-0.15, 0.15)) * sx
            cy = y0 + (j + 0.5 + rng.uniform(-0.15, 0.15)) * sy
            r = 0.55 * min(sx, sy) * rng.uniform(0.85, 1.1)
            rings = [_star_ring(rng, cx, cy, r, n_vertices, 0.25)]
            if rng.uniform() < hole_share:
                # the outer radius never drops below ~0.6 r (wobble bound),
                # so a hole of radius <= 0.3 r stays strictly inside
                rings.append(
                    _star_ring(rng, cx, cy, 0.25 * r, max(8, n_vertices // 4),
                               0.1, clockwise=True)
                )
            out.append((layer * 100_000 + i * grid + j, rings))
    return out


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    parts = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        parts.append(struct.pack("<I", len(ring)))
        parts.append(np.ascontiguousarray(ring, dtype="<f8").tobytes())
    return b"".join(parts)


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def edges_of(layer: list[tuple[int, list[np.ndarray]]]) -> dict[str, np.ndarray]:
    """Flat edge table ``pid, x1, y1, x2, y2`` of a polygon layer."""
    pid, x1, y1, x2, y2 = [], [], [], [], []
    for key, rings in layer:
        for ring in rings:
            m = len(ring) - 1
            pid.append(np.full(m, key, dtype=np.int64))
            x1.append(ring[:-1, 0])
            y1.append(ring[:-1, 1])
            x2.append(ring[1:, 0])
            y2.append(ring[1:, 1])
    return {
        "pid": np.concatenate(pid),
        "x1": np.concatenate(x1),
        "y1": np.concatenate(y1),
        "x2": np.concatenate(x2),
        "y2": np.concatenate(y2),
    }


def box_layer(seed: int, stream: int, n: int, size_range) -> dict[str, np.ndarray]:
    """``n`` axis-aligned boxes with seeded corners inside ``REGION``."""
    rng = _rng(seed, 3, stream)
    x0, y0, x1, y1 = REGION
    w = rng.uniform(*size_range, n)
    h = rng.uniform(*size_range, n)
    bx = rng.uniform(x0, x1 - w)
    by = rng.uniform(y0, y1 - h)
    return {"bid": np.arange(n, dtype=np.int64), "x0": bx, "y0": by,
            "x1": bx + w, "y1": by + h}


def box_wkb(b: dict[str, np.ndarray], i: int) -> bytes:
    x0, y0, x1, y1 = b["x0"][i], b["y0"][i], b["x1"][i], b["y1"][i]
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    return wkb_polygon([ring])


def separated_points(seed: int, n: int, center, sigma: float,
                     r: float) -> tuple[np.ndarray, np.ndarray]:
    """Hot-spot points for the buffer-dissolve op.  A pair closer than
    ``2r`` overlaps once buffered by ``r``; the buffer is a polygon
    inscribed in the circle, so pairs within ``BLOB_GUARD`` (relative) of
    ``2r`` are ambiguous and are redrawn."""
    rng = _rng(seed, 4)
    xs: list[float] = []
    ys: list[float] = []
    lo, hi = (2 * r) * (1 - BLOB_GUARD), (2 * r) * (1 + BLOB_GUARD)
    while len(xs) < n:
        x = rng.normal(center[0], sigma)
        y = rng.normal(center[1], sigma)
        if xs:
            d = np.hypot(np.asarray(xs) - x, np.asarray(ys) - y)
            if ((d >= lo) & (d <= hi)).any() or (d < 1e-3).any():
                continue
        xs.append(x)
        ys.append(y)
    return np.asarray(xs), np.asarray(ys)
