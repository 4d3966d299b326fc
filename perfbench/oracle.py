"""Expected results, computed without the engine under test.

Point-in-polygon answers come from DuckDB crossing-parity SQL (the same
ray-cast rule as the repo's own PIP oracle, with a y-band equi-key so the
edge join is not a nested loop); kNN answers from a DuckDB top-k window;
box-overlay areas and buffer-dissolve blob counts from closed-form numpy.

A digest is order-independent: the row count plus the xor of Spark's
``xxhash64`` over the row's key columns, recomputed here in numpy so the
engine can produce the same number with one aggregate over its output.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------- xxhash64
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = 42  # seed of Spark's xxhash64()


def _rotl(v, r: int):
    return (v << np.uint64(r)) | (v >> np.uint64(64 - r))


def xxh64_long(values, seed) -> np.ndarray:
    """XXH64 of one 8-byte little-endian long per element, exactly as
    Spark's ``XXH64.hashLong`` computes it (``seed`` may be an array)."""
    with np.errstate(over="ignore"):
        v = np.asarray(values, dtype=np.int64).astype(np.uint64)
        h = np.asarray(seed, dtype=np.int64).astype(np.uint64) + _P5 + np.uint64(8)
        k = _rotl(v * _P2, 31) * _P1
        h = h ^ k
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.astype(np.int64)


def row_hash(*cols) -> np.ndarray:
    """Spark ``xxhash64(c1, c2, ...)`` over long columns."""
    h = np.full(len(cols[0]), SPARK_SEED, dtype=np.int64)
    for c in cols:
        h = xxh64_long(c, h)
    return h


def digest(*cols) -> tuple[int, int]:
    """(row count, xor of row hashes) — what the engine reports through
    ``count(*)`` and ``bit_xor(xxhash64(...))``."""
    n = len(cols[0]) if cols else 0
    if n == 0:
        return 0, 0
    return n, int(np.bitwise_xor.reduce(row_hash(*cols)))


def per_key_counts(keys) -> dict[int, int]:
    k, c = np.unique(np.asarray(keys, dtype=np.int64), return_counts=True)
    return {int(a): int(b) for a, b in zip(k, c)}


# --------------------------------------------------------------- PIP (SQL)
_BAND = 250.0  # y-band height (m) of the equi-key
_XBUCKET = 5_000.0  # x-bucket width (m) of the equi-key
_THREADS = 4  # DuckDB threads per oracle query

# An edge is copied into every (y-band it spans) x (x-bucket its polygon's
# bbox spans), so a point meets every edge of each polygon whose bbox
# x-range shares its bucket; points outside a polygon's bbox meet none of
# its edges, and parity 0 is the right answer for them.
_PIP_SQL = """
WITH eb AS (
  SELECT layer, pid, x1, y1, x2, y2,
         min(least(x1, x2)) OVER (PARTITION BY layer, pid) AS bx0,
         max(greatest(x1, x2)) OVER (PARTITION BY layer, pid) AS bx1
  FROM edges
),
e0 AS (
  SELECT layer, pid, x1, y1, x2, y2, bx0, bx1,
         unnest(range(CAST(floor(least(y1, y2) / {band}) AS BIGINT),
                      CAST(floor(greatest(y1, y2) / {band}) AS BIGINT) + 1)) AS b
  FROM eb
),
e AS (
  SELECT layer, pid, x1, y1, x2, y2, b,
         unnest(range(CAST(floor(bx0 / {xb}) AS BIGINT),
                      CAST(floor(bx1 / {xb}) AS BIGINT) + 1)) AS xb
  FROM e0
),
p AS (
  SELECT layer, uid, x, y, CAST(floor(y / {band}) AS BIGINT) AS b,
         CAST(floor(x / {xb}) AS BIGINT) AS xb
  FROM pts
),
inside AS (
  SELECT p.layer, p.uid, e.pid
  FROM p JOIN e ON p.layer = e.layer AND p.b = e.b AND p.xb = e.xb
   AND ((e.y1 > p.y) != (e.y2 > p.y))
   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.layer, p.uid, e.pid
  HAVING count(*) % 2 = 1
)
"""

_NEAR_SQL = """,
ec AS (
  SELECT layer, pid, x1, y1, x2, y2,
         unnest(range(CAST(floor((least(x1, x2) - {d}) / {cell}) AS BIGINT),
                      CAST(floor((greatest(x1, x2) + {d}) / {cell}) AS BIGINT) + 1)) AS cx,
         CAST(floor((least(y1, y2) - {d}) / {cell}) AS BIGINT) AS cy0,
         CAST(floor((greatest(y1, y2) + {d}) / {cell}) AS BIGINT) AS cy1
  FROM edges
),
ecc AS (SELECT layer, pid, x1, y1, x2, y2, cx, unnest(range(cy0, cy1 + 1)) AS cy FROM ec),
pc AS (
  SELECT layer, uid, x, y,
         CAST(floor(x / {cell}) AS BIGINT) AS cx,
         CAST(floor(y / {cell}) AS BIGINT) AS cy
  FROM pts
),
seg AS (
  SELECT pc.layer, pc.uid, ecc.pid, pc.x - ecc.x1 AS apx, pc.y - ecc.y1 AS apy,
         ecc.x2 - ecc.x1 AS abx, ecc.y2 - ecc.y1 AS aby
  FROM pc JOIN ecc ON pc.layer = ecc.layer AND pc.cx = ecc.cx AND pc.cy = ecc.cy
),
near AS (
  SELECT layer, uid, pid FROM (
    SELECT layer, uid, pid, apx - t * abx AS dx, apy - t * aby AS dy FROM (
      SELECT *, least(greatest((apx * abx + apy * aby) / (abx * abx + aby * aby), 0.0), 1.0) AS t
      FROM seg))
  GROUP BY layer, uid, pid
  HAVING min(dx * dx + dy * dy) <= {d2}
)
"""


def pip_pairs(pts: dict, edges: dict,
              max_distance: float | None = None) -> dict[str, np.ndarray]:
    """All (layer, uid, pid) with the point inside the polygon — or, with
    ``max_distance``, inside OR within that distance of its boundary.

    ``pts`` has columns layer, uid, x, y; ``edges`` has layer, pid, x1, y1,
    x2, y2.  Each point is only tested against polygons of its own layer.
    Edges must be non-degenerate (the generator never repeats a vertex).
    """
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={_THREADS}")
        con.register("pts", pa.table(pts))
        con.register("edges", pa.table(edges))
        sql = _PIP_SQL.format(band=_BAND, xb=_XBUCKET)
        if max_distance is None:
            sql += "SELECT layer, uid, pid FROM inside"
        else:
            d = float(max_distance)
            cell = max(4 * d, 500.0)
            sql += _NEAR_SQL.format(d=d, cell=cell, d2=repr(d * d))
            sql += "SELECT layer, uid, pid FROM inside UNION SELECT layer, uid, pid FROM near"
        out = con.execute(sql).fetchnumpy()
    finally:
        con.close()
    return {k: np.asarray(out[k], dtype=np.int64) for k in ("layer", "uid", "pid")}


# --------------------------------------------------------------- kNN (SQL)
def knn_pairs(left: dict, right: dict, k: int) -> dict[str, np.ndarray]:
    """Top-k neighbours per left point ordered by (distance, neighbour id),
    with the engine's distance expression ``sqrt(dx*dx + dy*dy)``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={_THREADS}")
        con.register("l", pa.table(left))
        con.register("r", pa.table(right))
        out = con.execute(f"""
            SELECT uid, vid, rk FROM (
              SELECT l.uid, r.vid,
                     row_number() OVER (PARTITION BY l.uid ORDER BY
                       sqrt((l.x - r.px) * (l.x - r.px) + (l.y - r.py) * (l.y - r.py)),
                       r.vid) AS rk
              FROM l CROSS JOIN r)
            WHERE rk <= {int(k)}
        """).fetchnumpy()
    finally:
        con.close()
    return {k_: np.asarray(out[k_], dtype=np.int64) for k_ in ("uid", "vid", "rk")}


# -------------------------------------------------------- closed-form checks
def box_overlaps(a: dict, b: dict) -> dict[str, np.ndarray]:
    """Pairs of boxes whose interiors overlap, with the overlap rectangle
    (its corners are exact max/min picks of the input coordinates)."""
    ix0 = np.maximum(a["x0"][:, None], b["x0"][None, :])
    iy0 = np.maximum(a["y0"][:, None], b["y0"][None, :])
    ix1 = np.minimum(a["x1"][:, None], b["x1"][None, :])
    iy1 = np.minimum(a["y1"][:, None], b["y1"][None, :])
    ia, ib = np.nonzero((ix0 < ix1) & (iy0 < iy1))
    return {"aid": a["bid"][ia], "bid": b["bid"][ib],
            "rect": np.stack([ix0[ia, ib], iy0[ia, ib], ix1[ia, ib], iy1[ia, ib]], axis=1)}


def blob_components(x: np.ndarray, y: np.ndarray, r: float) -> list[np.ndarray]:
    """Union-find over point pairs closer than ``2r``: the members of each
    blob ``buffer(r) -> dissolve -> explode`` must produce."""
    n = len(x)
    parent = np.arange(n)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    d = np.hypot(x[:, None] - x[None, :], y[:, None] - y[None, :])
    ii, jj = np.nonzero(np.triu(d < 2 * r, k=1))
    for i, j in zip(ii, jj):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    roots = np.array([find(i) for i in range(n)])
    return [np.flatnonzero(roots == rt) for rt in np.unique(roots)]


def blob_bboxes(x: np.ndarray, y: np.ndarray, r: float) -> np.ndarray:
    """Expected bbox of each blob (member bbox grown by ``r``), sorted."""
    boxes = [
        (x[m].min() - r, y[m].min() - r, x[m].max() + r, y[m].max() + r)
        for m in blob_components(x, y, r)
    ]
    return np.array(sorted(boxes))


def wkb_rings(buf: bytes) -> list[np.ndarray]:
    """Rings of a little-endian WKB Polygon / MultiPolygon."""
    import struct

    rings: list[np.ndarray] = []

    def polygon(off):
        (nr,) = struct.unpack_from("<I", buf, off)
        off += 4
        for _ in range(nr):
            (npts,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, "<f8", 2 * npts, off).reshape(npts, 2))
            off += 16 * npts
        return off

    bo, t = struct.unpack_from("<BI", buf, 0)
    if bo != 1:
        raise ValueError("big-endian WKB")
    if t == 3:
        polygon(5)
    elif t == 6:
        (np_,) = struct.unpack_from("<I", buf, 5)
        off = 9
        for _ in range(np_):
            off = polygon(off + 5)
    else:
        raise ValueError(f"unexpected WKB type {t}")
    return rings


def wkb_area_bbox(buf: bytes) -> tuple[float, tuple[float, float, float, float]]:
    """|Signed shoelace area| summed over the rings (exterior and holes
    wound oppositely) and the bbox of a WKB polygon.  Coordinates are
    shifted to the first vertex first: at 10^6 m magnitudes the raw
    shoelace loses ~1e-4 m^2 to cancellation."""
    rings = wkb_rings(buf)
    origin = rings[0][0]
    area = 0.0
    for ring in rings:
        xs, ys = ring[:, 0] - origin[0], ring[:, 1] - origin[1]
        area += 0.5 * float(np.dot(xs[:-1], ys[1:]) - np.dot(xs[1:], ys[:-1]))
    allc = np.vstack(rings)
    return abs(area), (allc[:, 0].min(), allc[:, 1].min(), allc[:, 0].max(), allc[:, 1].max())
