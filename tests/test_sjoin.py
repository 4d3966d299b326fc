"""Spatial-join operator tests vs a numpy brute-force oracle (the
reference's parity style: sgis result must equal the naive composition,
SURVEY.md §5 / tests/test_neighbors.py:140-188)."""

import numpy as np
import pandas as pd
import pytest

from ssb_sgis_spark.kernels.geom import points_in_polygon
from ssb_sgis_spark.operators.sjoin import (
    points_in_polygons_join,
    sfilter,
    sfilter_inverse,
    sfilter_split,
)
from ssb_sgis_spark.sources.municipalities import muni_df, muni_edge_table
from ssb_sgis_spark.sources.pages import pages_df, pages_np

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def truth():
    import duckdb

    con = duckdb.connect()
    uids = con.execute(
        f"select distinct l_orderkey * 8 + l_linenumber as uid from read_parquet('{SF}/lineitem.parquet') order by 1"
    ).df()["uid"].to_numpy()
    x, y = pages_np(uids)
    et = muni_edge_table()
    pairs = []
    for mid, e in et.items():
        m = points_in_polygon(x, y, e)
        for u in uids[m]:
            pairs.append((u, mid))
    return uids, set(pairs)


def test_pip_join_matches_bruteforce(spark, truth):
    uids, want = truth
    got = points_in_polygons_join(pages_df(spark, SF), muni_df(spark))
    rows = {(r["uid"], r["muni_id"]) for r in got.select("uid", "muni_id").collect()}
    assert rows == want


def test_pip_join_left_has_all_pages(spark, truth):
    uids, want = truth
    left = points_in_polygons_join(pages_df(spark, SF), muni_df(spark), how="left")
    pdf = left.select("uid", "muni_id").toPandas()
    assert set(pdf["uid"]) == set(uids)
    matched = pdf[pdf["muni_id"].notna()]
    assert set(zip(matched["uid"], matched["muni_id"])) == want


def test_sfilter_split_partitions_input(spark, truth):
    uids, want = truth
    inside_uids = {u for u, _ in want}
    semi, anti = sfilter_split(pages_df(spark, SF), muni_df(spark))
    semi_u = {r["uid"] for r in semi.select("uid").collect()}
    anti_u = {r["uid"] for r in anti.select("uid").collect()}
    assert semi_u == inside_uids
    assert semi_u.isdisjoint(anti_u)
    assert semi_u | anti_u == set(uids)


def test_sfilter_no_duplicates(spark):
    out = sfilter(pages_df(spark, SF), muni_df(spark)).toPandas()
    assert not out.duplicated().any()


def test_full_cells_need_no_refine(spark):
    """Plan sanity: the majority of matches at municipality scale come from
    FULL cover cells (no geometry work)."""
    from pyspark.sql import functions as F

    from ssb_sgis_spark.cells import pick_cover_resolution
    from ssb_sgis_spark.operators.sjoin import _decode_polygon_side, build_cover_df

    keys, ga, edge_table = _decode_polygon_side(muni_df(spark), "muni_id", "geometry")
    cover = build_cover_df(spark, keys, ga, 13)[0].toPandas()
    frac_full = cover["_full"].mean()
    assert frac_full > 0.5, f"cover is mostly boundary cells: {frac_full}"


def _rows(df, how, key_col="muni_id"):
    cols = ["uid", key_col] if how == "inner" else ["uid"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_compact_cover_path_matches_enumerated(spark, truth):
    """Forcing the compact (morton-range + searchsorted) path must give
    byte-identical rows to the enumerated broadcast path — for the join
    and for sfilter / sfilter_inverse (one broadcast semi / anti join on
    the enumerated path) — and both must equal brute force."""
    uids, want = truth
    inside = {u for u, _ in want}
    expected = {
        "inner": sorted(want),
        "semi": sorted((u,) for u in inside),
        "anti": sorted((int(u),) for u in uids if u not in inside),
    }
    for how, rows in expected.items():
        enum = points_in_polygons_join(
            pages_df(spark, SF), muni_df(spark), how=how, id_cols=["uid"]
        )
        compact = points_in_polygons_join(
            pages_df(spark, SF), muni_df(spark), how=how, id_cols=["uid"],
            compact_threshold=0,
        )
        assert _rows(enum, how) == _rows(compact, how) == rows, how


def _square(x0, y0, x1, y1):
    from ssb_sgis_spark.kernels import wkb as kwkb

    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
    return bytearray(kwkb.encode_polygon([ring]))


@pytest.mark.parametrize("threshold", [None, 0])
def test_semi_anti_overlap_and_null_coordinates(spark, threshold):
    """Two overlapping squares: a point inside both is emitted ONCE by
    sfilter and dropped by sfilter_inverse; a NULL-x row is dropped by
    sfilter and kept by sfilter_inverse.  Points 5 and 6 sit 1 m either
    side of an edge, so the partial-cell predicate decides them."""
    polys = spark.createDataFrame(
        [
            ("a", _square(260000.0, 6640000.0, 270000.0, 6650000.0)),
            ("b", _square(265000.0, 6645000.0, 275000.0, 6655000.0)),
        ],
        "muni_id string, geometry binary",
    )
    pts = spark.createDataFrame(
        [
            (1, 267000.0, 6647000.0),  # in a and b
            (2, 261000.0, 6641000.0),  # in a only
            (3, 300000.0, 6700000.0),  # outside both
            (4, None, 6647000.0),  # NULL x
            (5, 269999.0, 6647000.0),  # in a and b, 1 m inside a's edge
            (6, 270001.0, 6641000.0),  # 1 m outside a, below b
        ],
        "uid long, x double, y double",
    )
    kw = dict(id_cols=["uid"], compact_threshold=threshold)
    inner = points_in_polygons_join(pts, polys, **kw)
    assert _rows(inner, "inner") == [
        (1, "a"), (1, "b"), (2, "a"), (5, "a"), (5, "b")
    ]
    semi = sfilter(pts, polys, **kw)
    anti = sfilter_inverse(pts, polys, **kw)
    assert semi.columns == anti.columns == pts.columns
    assert _rows(semi, "semi") == [(1,), (2,), (5,)]
    assert _rows(anti, "anti") == [(3,), (4,), (6,)]


def test_warm_join_plan_build_round_trips(spark, monkeypatch):
    """Driver-cost guard: with the cover (and the Morton column) warm, a
    join builds its plan in tens of py4j round trips.  Building the
    unrolled PIP predicate or the Morton column one Column call per
    expression node costs thousands."""
    pages, munis = pages_df(spark, SF), muni_df(spark)
    points_in_polygons_join(pages, munis)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    points_in_polygons_join(pages, munis)
    monkeypatch.undo()
    assert len(calls) <= 150, f"{len(calls)} py4j round trips"


def test_dense_polygon_bounded_predicate_width(spark, truth):
    """One 5,000-vertex polygon among the munis must NOT inflate the
    unrolled PIP predicate width globally: dense PARTIAL cells are
    bisected into sub-cell rows (bounded `_near`/`_rb`), and the join
    rows still match brute force exactly."""
    from ssb_sgis_spark.kernels import wkb as kwkb
    from ssb_sgis_spark.operators.sjoin import (
        _MAX_CELL_EDGES,
        _decode_polygon_side,
        build_cover_df,
    )

    uids, want = truth
    t = np.linspace(0.0, 2.0 * np.pi, 5001)
    cx, cy, r = 262000.0, 6650000.0, 8000.0
    ring = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    ring[-1] = ring[0]
    dense = spark.createDataFrame(
        [("zzz_dense", "dense", bytearray(kwkb.encode_polygon([ring])))],
        "muni_id string, name string, geometry binary",
    )
    polys = muni_df(spark).unionByName(dense)

    keys, ga, _ = _decode_polygon_side(polys, "muni_id", "geometry")
    # the resolution the join itself would pick (13 = muni-scale cells)
    _, n_near, n_rb = build_cover_df(spark, keys, ga, 13)
    assert n_near <= _MAX_CELL_EDGES, f"n_near={n_near} not bounded"
    assert n_rb <= _MAX_CELL_EDGES, f"n_rb={n_rb} not bounded"

    got = points_in_polygons_join(pages_df(spark, SF), polys)
    rows = {(q["uid"], q["muni_id"]) for q in got.select("uid", "muni_id").collect()}
    x, y = pages_np(uids)
    m = points_in_polygon(
        x, y, (ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1])
    )
    want_dense = want | {(u, "zzz_dense") for u in uids[m]}
    assert rows == want_dense


def test_connected_components_string_ids(spark):
    """String vertex ids must converge correctly (the decimal-cast
    fingerprint regression: NULL sums ended the loop after one round)."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("lone",)], "id string"
    )
    out = {r["id"]: r["component"] for r in connected_components(edges, verts).collect()}
    assert out["a"] == out["b"] == out["c"] == out["d"] == "a"
    assert out["x"] == out["y"] == "x"
    assert out["lone"] == "lone"


def test_connected_components_no_edges(spark):
    """Empty edge set: every vertex is its own singleton component (the
    active-vertex loop runs zero rounds; singletons union back)."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    out = {r["id"]: r["component"] for r in connected_components(edges, verts).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_connected_components_foreign_edge_ids(spark):
    """Edges mentioning ids absent from the vertices frame: output rows
    stay ⊆ vertices (the active set is intersected with vertices), and
    labels may still propagate through the foreign endpoint's edges."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame([(1, 99), (99, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    rows = connected_components(edges, verts).collect()
    ids = {r["id"] for r in rows}
    assert ids == {1, 2, 3}
