"""Spatial-operator correctness vs brute-force numpy oracles
(SURVEY.md §5.2 Tier 3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.spatial import (
    cover_cells_rect,
    encode_points,
    knn_join,
    pip_join,
    polygon_cover,
    salted_join,
    hot_keys,
)
from kml2geojson_spark.spatial.ops import knn_exact, _raycast_np, _rings_to_np

RNG = np.random.default_rng(7)
N_PTS = 400


def _points_pdf():
    return pd.DataFrame({
        "point_id": np.arange(N_PTS, dtype=np.int64),
        "x": RNG.uniform(-20, 20, N_PTS),
        "y": RNG.uniform(-20, 20, N_PTS),
    })


def _polygons():
    """A few deliberately non-convex / holed polygons."""
    star = []
    for i in range(10):
        ang = i * np.pi / 5
        r = 8.0 if i % 2 == 0 else 3.0
        star.append([float(r * np.cos(ang)), float(r * np.sin(ang))])
    star.append(star[0])
    square_with_hole = [
        [[-15.0, -15.0], [-5.0, -15.0], [-5.0, -5.0], [-15.0, -5.0], [-15.0, -15.0]],
        [[-12.0, -12.0], [-8.0, -12.0], [-8.0, -8.0], [-12.0, -8.0], [-12.0, -12.0]],
    ]
    triangle = [[[5.0, 5.0], [18.0, 6.0], [10.0, 18.0], [5.0, 5.0]]]
    return [
        (0, [star]),
        (1, square_with_hole),
        (2, triangle),
    ]


def _pip_oracle(pts: pd.DataFrame, polys) -> set:
    out = set()
    for pid, rings in polys:
        rs = _rings_to_np(rings)
        mask = _raycast_np(pts["x"].to_numpy(), pts["y"].to_numpy(), rs)
        for point_id in pts["point_id"].to_numpy()[mask]:
            out.add((int(point_id), int(pid)))
    return out


def test_raycast_basics():
    ring = [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])]
    inside = _raycast_np(np.array([2.0, 5.0, -1.0]), np.array([2.0, 2.0, 2.0]), ring)
    assert inside.tolist() == [True, False, False]


@pytest.mark.parametrize("res,salt", [(7, None), (5, None), (7, 4)])
def test_pip_join_matches_oracle(spark, res, salt):
    pts = _points_pdf()
    polys = _polygons()
    points_df = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(
        [(pid, rings) for pid, rings in polys],
        "poly_id long, rings array<array<array<double>>>",
    )
    got = {(r["point_id"], r["poly_id"])
           for r in pip_join(points_df, poly_df, res, salt=salt).collect()}
    assert got == _pip_oracle(pts, polys)


def test_polygon_cover_rectangle_exact(spark):
    # a rect polygon: coverage fractions must sum to its area / cell_area
    res = 6
    rect = [[[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0],
             [-10.0, -10.0]]]
    poly_df = spark.createDataFrame([(0, rect)],
                                    "poly_id long, rings array<array<array<double>>>")
    cover = polygon_cover(poly_df, res).toPandas()
    n = float(1 << res)
    cell_area = (360.0 / n) * (180.0 / n)
    assert np.isclose(cover["fraction"].sum() * cell_area, 400.0, rtol=1e-9)
    assert (cover["fraction"] <= 1.0 + 1e-12).all()
    # interior cells are fully covered
    assert np.isclose(cover["fraction"].max(), 1.0)


def test_polygon_cover_hole_subtracts(spark):
    res = 6
    rings = [
        [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]],
        [[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0], [-5.0, -5.0]],
    ]
    poly_df = spark.createDataFrame([(0, rings)],
                                    "poly_id long, rings array<array<array<double>>>")
    cover = polygon_cover(poly_df, res).toPandas()
    n = float(1 << res)
    cell_area = (360.0 / n) * (180.0 / n)
    assert np.isclose(cover["fraction"].sum() * cell_area, 400.0 - 100.0, rtol=1e-9)


def test_cover_cells_rect_matches_polygon_cover(spark):
    res = 5
    rects = pd.DataFrame({
        "rect_id": [0, 1],
        "west": [-10.0, 20.25],
        "south": [-10.0, 10.5],
        "east": [10.0, 33.75],
        "north": [10.0, 22.125],
    })
    df = spark.createDataFrame(rects)
    got = cover_cells_rect(df, res).toPandas()
    for rid in (0, 1):
        r = rects[rects["rect_id"] == rid].iloc[0]
        w, s, e, n = (float(r.west), float(r.south), float(r.east), float(r.north))
        rings = [[[w, s], [e, s], [e, n], [w, n], [w, s]]]
        poly_df = spark.createDataFrame([(int(rid), rings)],
                                        "poly_id long, rings array<array<array<double>>>")
        exp = polygon_cover(poly_df, res).toPandas()
        g = got[got["rect_id"] == rid]
        merged = g.merge(exp, on="cell_id", how="outer", suffixes=("_g", "_e"))
        # zero-fraction boundary cells may appear on either side; compare nonzero
        nz = merged[(merged["fraction_g"].fillna(0) > 1e-12) |
                    (merged["fraction_e"].fillna(0) > 1e-12)]
        assert np.allclose(nz["fraction_g"], nz["fraction_e"], rtol=1e-9)


def test_knn_kring_matches_exact(spark):
    pts = _points_pdf()
    points_df = spark.createDataFrame(pts)
    queries = spark.createDataFrame(pts.head(25))
    queries = queries.withColumnRenamed("point_id", "query_id")
    k = 10
    exact = knn_exact(points_df, queries, k).toPandas()
    # res 5 → cell ≈ 11.25° wide; radius 3 rings cover ≥ 33° Chebyshev —
    # far beyond the k-th neighbor distance in a 40°×40° box with 400 pts
    got = knn_join(points_df, queries, k, res=5, radius=3).toPandas()
    key = ["query_id", "rank"]
    a = exact.sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    assert a[["query_id", "neighbor_id", "rank"]].equals(
        b[["query_id", "neighbor_id", "rank"]])
    assert np.allclose(a["dist2"], b["dist2"])


def test_salted_join_equals_plain_join(spark):
    # heavily skewed probe: 80% of rows on one key
    n = 5000
    keys = np.where(RNG.uniform(size=n) < 0.8, 7, RNG.integers(0, 50, n)).astype(np.int64)
    probe = spark.createDataFrame(pd.DataFrame({
        "k": keys, "v": np.arange(n, dtype=np.int64)}))
    build = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(0, 50, dtype=np.int64),
        "w": np.arange(0, 50, dtype=np.int64) * 10}))
    plain = probe.join(build, "k").select("k", "v", "w").toPandas()
    hot = hot_keys(probe, "k", sample_fraction=0.2)
    assert 7 in hot
    salted = salted_join(probe, build, "k", n_salt=8, hot=hot) \
        .select("k", "v", "w").toPandas()
    a = plain.sort_values(["k", "v"]).reset_index(drop=True)
    b = salted.sort_values(["k", "v"]).reset_index(drop=True)
    assert a.equals(b)


def test_encode_points_plan_stays_jvm(spark):
    """The bulk encode path must not contain a Python eval node."""
    df = spark.createDataFrame(_points_pdf())
    plan = encode_points(df, 12)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_knn_adaptive_matches_exact_on_clustered_data(spark):
    """Clustered + isolated points: any fixed small radius misses the
    isolated queries' neighbors; the adaptive expansion must still be
    exact."""
    from kml2geojson_spark.spatial.ops import knn_join_adaptive

    rng = np.random.default_rng(23)
    cluster = rng.normal(0, 0.5, (300, 2))
    outliers = np.array([[150.0, 80.0], [-170.0, -80.0], [90.0, 0.0]])
    pts = np.vstack([cluster, outliers])
    pdf = pd.DataFrame({"point_id": np.arange(len(pts), dtype=np.int64),
                        "x": np.clip(pts[:, 0], -180, 180),
                        "y": np.clip(pts[:, 1], -85, 85)})
    points_df = spark.createDataFrame(pdf)
    # queries include the isolated outliers (fixed radius-1 would fail)
    qpdf = pd.concat([pdf.head(5), pdf.tail(3)])
    queries = spark.createDataFrame(qpdf).withColumnRenamed("point_id", "query_id")

    from kml2geojson_spark.spatial.ops import knn_exact
    exact = knn_exact(points_df, queries, 7).toPandas()
    got = knn_join_adaptive(points_df, queries, 7, res=7).toPandas()
    key = ["query_id", "rank"]
    a = exact.sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    assert a[["query_id", "neighbor_id", "rank"]].equals(
        b[["query_id", "neighbor_id", "rank"]])


def test_polygon_stats_known_square(spark):
    from kml2geojson_spark.spatial.ops import polygon_stats
    ring = [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [ring])],
        "poly_id long, rings array<array<array<double>>>")
    row = polygon_stats(df).collect()[0]
    assert row["area2"] == 24.0     # 2 * (4*3), CCW positive
    assert row["perimeter"] == 14.0


def test_rect_overlap_join_edges(spark):
    """Touching edges do NOT overlap (strict interiors); overlaps that
    span cell boundaries are still found (cover completeness)."""
    from kml2geojson_spark.spatial.ops import rect_overlap_join
    rows = [
        (1, 0.0, 0.0, 10.0, 10.0),
        (2, 10.0, 0.0, 20.0, 10.0),     # touches 1 on an edge: no pair
        (3, 5.0, 5.0, 15.0, 15.0),      # overlaps 1 and 2
        (4, -30.0, -30.0, -20.0, -20.0),  # disjoint
        # crosses the res-3 cell boundary at lon 0/45 etc.
        (5, -1.0, -1.0, 1.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "rect_id long, west double, south double, east double, north double")
    got = {(r["rect_a"], r["rect_b"])
           for r in rect_overlap_join(df, res=3).collect()}
    assert got == {(1, 3), (2, 3), (1, 5)}


def test_tile_pyramid_hierarchy_invariants(spark):
    """Every level totals the same point count, and each coarse cell's
    count equals the sum of its children at the finer level."""
    from kml2geojson_spark.spatial.ops import tile_pyramid
    import numpy as np
    rng = np.random.default_rng(8)
    pts = spark.createDataFrame(
        [(float(x), float(y)) for x, y in
         zip(rng.uniform(-180, 180, 4000), rng.uniform(-90, 90, 4000))],
        "x double, y double")
    pyr = tile_pyramid(pts, 10, [10, 8, 6]).toPandas()
    totals = pyr.groupby("level")["n_points"].sum()
    assert set(totals) == {4000}
    fine = pyr[pyr["level"] == 10]
    coarse = {int(c): int(n) for c, n in
              zip(pyr[pyr["level"] == 8]["cell_id"],
                  pyr[pyr["level"] == 8]["n_points"])}
    rolled = {}
    for c, n in zip(fine["cell_id"], fine["n_points"]):
        parent = ((int(c) >> (5 + 4)) << 5) | 8
        rolled[parent] = rolled.get(parent, 0) + int(n)
    assert rolled == coarse


def test_cover_cells_rect_degenerate(spark):
    """Zero-width rect on a cell boundary emits no spurious cells
    (Spark's sequence runs DESCENDING when start>stop); west > east is
    the antimeridian-crossing convention and DOES emit cells (checked
    exactly in test_cover_cells_rect_antimeridian)."""
    from kml2geojson_spark.spatial.ops import cover_cells_rect
    rows = [(1, 0.0, 0.0, 0.0, 10.0),       # zero-width on lon-0 boundary
            (2, 170.0, 0.0, -170.0, 10.0),  # crosses the antimeridian
            (3, 1.0, 1.0, 2.0, 2.0),        # normal
            (4, 170.0, 0.0, -180.0, 10.0),  # degenerate east piece
            (5, 180.0, 0.0, -170.0, 10.0)]  # degenerate west piece
    df = spark.createDataFrame(
        rows, "rect_id long, west double, south double, east double, north double")
    got = cover_cells_rect(df, 5).toPandas()
    assert set(got[got["fraction"] > 0]["rect_id"]) == {2, 3, 4, 5}
    assert 1 not in set(got["rect_id"])  # zero-width: nothing at all
    # degenerate crossing pieces contribute NO spurious zero-fraction
    # columns: rect 4 = [170, 180] only, rect 5 = [-180, -170] only
    for rid in (4, 5):
        sub = got[got["rect_id"] == rid]
        assert (sub["fraction"] > 0).all(), rid
        # one x column × 2 y cells ([0,10] spans 2 rows at res 5)
        assert len(sub) == 2, (rid, len(sub))


def _rect_cover_bruteforce(west, south, east, north, res):
    """All-cells brute-force cover fractions; a west>east rect is the
    union [west,180] ∪ [-180,east]."""
    import numpy as np
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    xparts = [(west, east)] if west <= east else [(west, 180.0),
                                                 (-180.0, east)]
    out = {}
    for gx in range(n):
        for gy in range(n):
            w, s = gx * cw - 180.0, gy * ch - 90.0
            ow = sum(max(0.0, min(e, w + cw) - max(ws, w))
                     for ws, e in xparts)
            oh = max(0.0, min(north, s + ch) - max(south, s))
            frac = ow * oh / (cw * ch)
            if frac > 0:
                cid = int(cell_encode_grid_np([gx], [gy], res)[0])
                out[cid] = frac
    return out


def test_cover_cells_rect_antimeridian(spark):
    """Pacific-crossing rectangles match an all-cells brute-force
    oracle: cells from BOTH sides of the antimeridian, exact fractions,
    no silent row drop. Includes a near-360° wrap whose two pieces
    reach the same cell (their overlaps must be summed)."""
    from kml2geojson_spark.spatial.ops import cover_cells_rect
    rows = [(1, 170.0, 0.0, -170.0, 10.0),   # classic Pacific crossing
            (2, 178.2, -20.0, -176.9, -3.5),  # fractional edges
            (3, 10.1, -5.0, 9.9, 5.0)]        # near-global wrap
    df = spark.createDataFrame(
        rows, "rect_id long, west double, south double, east double, north double")
    res = 5
    got = cover_cells_rect(df, res).toPandas()
    for rect_id, west, south, east, north in rows:
        exp = _rect_cover_bruteforce(west, south, east, north, res)
        mine = {int(c): f for c, f in
                zip(got[got["rect_id"] == rect_id]["cell_id"],
                    got[got["rect_id"] == rect_id]["fraction"])
                if f > 0}
        assert mine.keys() == exp.keys(), f"rect {rect_id} cell set"
        for c in exp:
            assert mine[c] == pytest.approx(exp[c], abs=1e-12), \
                f"rect {rect_id} cell {c}"


def test_rect_overlap_join_antimeridian(spark):
    """Crossing rects pair with simple rects on either side of the
    antimeridian; two crossing rects always pair; touching at the
    crossing edge stays non-overlapping."""
    from kml2geojson_spark.spatial.ops import rect_overlap_join
    rows = [
        (1, 170.0, 0.0, -170.0, 10.0),   # crossing
        (2, 175.0, 2.0, 179.0, 8.0),     # simple, west side: overlaps 1
        (3, -178.0, 2.0, -172.0, 8.0),   # simple, east side: overlaps 1
        (4, 150.0, 2.0, 160.0, 8.0),     # simple, disjoint from 1
        (5, 160.0, -5.0, -160.0, 5.0),   # crossing: overlaps 1 (always),
                                         # 2, 3 (inside), not 4 (touching
                                         # handled below is false: 150-160
                                         # vs [160,180]∪[-180,-160] touch
                                         # only at 160 — no interior)
        (6, -170.0, 0.0, -165.0, 10.0),  # simple, touches 1 at east=-170
    ]
    df = spark.createDataFrame(
        rows, "rect_id long, west double, south double, east double, north double")
    got = {(r["rect_a"], r["rect_b"])
           for r in rect_overlap_join(df, res=4).collect()}
    assert got == {(1, 2), (1, 3), (1, 5), (2, 5), (3, 5), (5, 6)}


def _diamond(key):
    cx = ((key * 2971 + 1234) % 30000) / 100.0 - 150.0
    cy = ((key * 4231 + 567) % 13000) / 100.0 - 65.0
    r = 4.0 + (key % 7) * 3.0
    return np.array([[cx, cy - r], [cx + r, cy], [cx, cy + r],
                     [cx - r, cy], [cx, cy - r]])


def test_polygon_cover_hier_bitexact_vs_flat_on_diamonds():
    """The hierarchical two-pass cover must be BIT-equal to the flat
    kernel on the q54 diamond corpus: boundary cells run the identical
    clip (per-cell results don't depend on call grouping) and interior
    cells' flat clip reproduces exactly 1.0 there."""
    from kml2geojson_spark.spatial.ops import _cover_one, _cover_one_hier
    for key in range(25):
        rings = [_diamond(key)]
        for res in (5, 6, 8):
            fc, ff = _cover_one(rings, res, 0.0)
            hc, hf = _cover_one_hier(rings, res, 0.0, 2)
            flat = dict(zip(fc.tolist(), ff.tolist()))
            hier = dict(zip(hc.tolist(), hf.tolist()))
            assert flat == hier, f"poly {key} res {res}"


def test_polygon_cover_hier_with_hole_bitexact():
    from kml2geojson_spark.spatial.ops import _cover_one, _cover_one_hier
    outer = _diamond(5)
    cx, cy = outer[:, 0].mean(), outer[1][1]
    hole = np.array([[cx - 3, cy - 3], [cx + 3, cy - 3], [cx + 3, cy + 3],
                     [cx - 3, cy + 3], [cx - 3, cy - 3]])
    rings = [outer, hole]
    fc, ff = _cover_one(rings, 7, 0.0)
    hc, hf = _cover_one_hier(rings, 7, 0.0, 2)
    assert dict(zip(fc.tolist(), ff.tolist())) == \
        dict(zip(hc.tolist(), hf.tolist()))


def test_polygon_cover_hier_beyond_chunk_cap(spark):
    """A planetary polygon whose bbox at the target res exceeds the
    flat kernel's chunk cap: the hier strategy completes through the
    Spark operator and its integerized fraction total matches the flat
    kernel's (the per-cell sets agree wherever both computed)."""
    from kml2geojson_spark.spatial.ops import (_COVER_CHUNK_CELLS_X_VERTS,
                                               _cover_one, _cover_one_hier,
                                               polygon_cover)
    # diamond spanning most of the globe; at res 11 the bbox is
    # ~1800 × 1500 cells × 5 verts >> the 4M chunk cap
    big = np.array([[0.0, -70.0], [160.0, 0.0], [0.0, 70.0],
                    [-160.0, 0.0], [0.0, -70.0]])
    res = 11
    nn = 1 << res
    bbox_cells = int((320.0 / 360.0) * nn) * int((140.0 / 180.0) * nn)
    assert bbox_cells * 5 > _COVER_CHUNK_CELLS_X_VERTS
    hc, hf = _cover_one_hier([big], res, 0.0, 3)
    # exact total: integerized picounit sum equals the shoelace area
    cell_area = (360.0 / nn) * (180.0 / nn)
    got_area = hf.sum() * cell_area
    true_area = 0.5 * abs(160.0 * 140.0 * 2)  # diamond = d1*d2/2
    assert got_area == pytest.approx(true_area, rel=1e-9)
    # and the Spark operator runs the hier path end-to-end
    df = spark.createDataFrame(
        [(1, [[[float(x), float(y)] for x, y in big]])],
        "poly_id long, rings array<array<array<double>>>")
    out = polygon_cover(df, 8, strategy="hier").toPandas()
    fc, ff = _cover_one([big], 8, 0.0)
    assert dict(zip(out["cell_id"], out["fraction"])) == \
        dict(zip(fc.tolist(), ff.tolist()))


def test_polygon_stats_degenerate_rings(spark):
    from kml2geojson_spark.spatial.ops import polygon_stats
    rows = [
        (1, [[[1.0, 2.0]]]),                 # single vertex
        (2, [[]]),                           # empty ring
        (3, None),                           # null rings
        (4, [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]]),  # valid
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, rings array<array<array<double>>>")
    got = {r["poly_id"]: (r["area2"], r["perimeter"])
           for r in polygon_stats(df).collect()}
    assert got[1] == (0.0, 0.0)
    assert got[2] == (0.0, 0.0)
    assert got[3] == (0.0, 0.0)
    assert got[4][0] == 4.0  # 2 * area(triangle=2)


def test_salted_join_rejects_outer_and_handles_key_only_probe(spark):
    import pytest
    from kml2geojson_spark.spatial.salted import salted_join
    probe = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    build = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="does not support"):
        salted_join(probe, build, "k", hot=[1], how="right")
    out = salted_join(probe, build, "k", hot=[1]).collect()
    assert sorted((r["k"], r["v"]) for r in out) == [(1, "a"), (1, "a"), (2, "b")]


def test_simplify_lines_properties(spark):
    """DP guarantees: subsequence w/ endpoints, dropped-vertex distance
    <= tolerance, fixpoint; a straight line collapses to 2 points."""
    import numpy as np
    from kml2geojson_spark.spatial.ops import simplify_lines

    rng = np.random.default_rng(17)
    rows = [(0, [[float(i), 0.0] for i in range(50)])]   # straight
    for lid in range(1, 8):
        n = int(rng.integers(5, 60))
        walk = np.cumsum(rng.standard_normal((n, 2)), axis=0)
        rows.append((lid, walk.tolist()))
    df = spark.createDataFrame(rows, "line_id long, coords array<array<double>>")
    tol = 0.75
    got = {r["line_id"]: r for r in simplify_lines(df, tol).collect()}

    assert [list(map(round, p)) for p in got[0]["coords"]] == [[0, 0], [49, 0]]

    def seg_dist(p, a, b):
        a, b, p = map(np.asarray, (a, b, p))
        seg = b - a
        l2 = seg @ seg
        t = 0.0 if l2 == 0 else float(np.clip((p - a) @ seg / l2, 0, 1))
        return float(np.linalg.norm(p - (a + t * seg)))

    for lid, coords in rows:
        out = got[lid]["coords"]
        assert out[0] == coords[0] and out[-1] == coords[-1]
        # subsequence check
        it = iter(coords)
        assert all(any(c == o for c in it) for o in out)
        # dropped points within tolerance of the simplified chain
        for p in coords:
            d = min(seg_dist(p, out[i], out[i + 1])
                    for i in range(len(out) - 1))
            assert d <= tol + 1e-9, (lid, p, d)
    # fixpoint
    again = {r["line_id"]: r["coords"] for r in
             simplify_lines(spark.createDataFrame(
                 [(k, v["coords"]) for k, v in got.items()],
                 "line_id long, coords array<array<double>>"), tol).collect()}
    for lid in got:
        assert again[lid] == got[lid]["coords"]


def test_simplify_lines_null_and_ragged(spark):
    from kml2geojson_spark.spatial.ops import simplify_lines
    rows = [(1, None), (2, [[1.0], [2.0, 3.0], [4.0, 5.0]]),
            (3, [[0.0, 0.0], [5.0, 5.0]])]
    df = spark.createDataFrame(
        rows, "line_id long, coords array<array<double>>")
    got = {r["line_id"]: r for r in simplify_lines(df, 0.5).collect()}
    assert got[1]["n_in"] == 0 and got[1]["coords"] == []
    assert got[2]["n_in"] == 2          # 1-element vertex dropped
    assert got[3]["coords"] == [[0.0, 0.0], [5.0, 5.0]]


def test_clip_kernel_vectorized_bitexact_vs_scalar():
    """The PRODUCTION strip-decomposed clip kernel must be
    BIT-identical to the scalar Sutherland–Hodgman reference for
    arbitrary (non-convex) rings — same emission order, intersection
    arithmetic, fold order."""
    from kml2geojson_spark.spatial.ops import (_bbox_grid,
                                               _clip_area_rect,
                                               _ring_cell_areas)
    rng = np.random.default_rng(123)
    for trial in range(20):
        m = int(rng.integers(3, 40))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(1.0, 10.0, m)
        cx, cy = rng.uniform(-90, 90), rng.uniform(-45, 45)
        ring = np.column_stack([cx + rad * np.cos(ang),
                                cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])  # closed
        res = int(rng.integers(4, 8))
        nn = float(1 << res)
        cw, ch = 360.0 / nn, 180.0 / nn
        ix0, ix1, iy0, iy1 = _bbox_grid(ring, res)
        gx = np.arange(ix0, ix1 + 1, dtype=np.int64)
        gy = np.arange(iy0, iy1 + 1, dtype=np.int64)
        vec = _ring_cell_areas(ring, gx, gy, cw, ch)
        ny = len(gy)
        for i, gxi in enumerate(gx):
            w = gxi * cw - 180.0
            for j, gyj in enumerate(gy):
                s = gyj * ch - 90.0
                ref = _clip_area_rect(ring, w, s, w + cw, s + ch)
                assert vec[i * ny + j] == ref, (trial, gxi, gyj)


def _big_poly_corpus(n_polys=5000, n_verts=64, n_pts=500, seed=99):
    rng = np.random.default_rng(seed)
    polys = []
    for pid in range(n_polys):
        cx, cy = rng.uniform(-60, 60), rng.uniform(-40, 40)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
        rad = rng.uniform(0.5, 2.5, n_verts)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        ring = [[float(a), float(b)] for a, b in zip(xs, ys)]
        ring.append(ring[0])
        polys.append((pid, [ring]))
    pts = pd.DataFrame({
        "point_id": np.arange(n_pts, dtype=np.int64),
        "x": rng.uniform(-62, 62, n_pts),
        "y": rng.uniform(-42, 42, n_pts),
    })
    return pts, polys


def test_pip_join_cogroup_large_polygon_table_no_driver_collect(
        spark, monkeypatch):
    """The scale path: a polygon table too large to sensibly collect.
    Rings are distributed executor-side (cogroup per cell) — asserted
    by making every DataFrame.collect raise for the whole job — and
    the result equals the all-pairs brute-force ray-cast oracle."""
    from pyspark.sql import DataFrame as SparkDF

    pts, polys = _big_poly_corpus()
    points_df = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(
        polys, "poly_id long, rings array<array<array<double>>>")

    out = pip_join(points_df, poly_df, 7, rings_distribution="cogroup")

    real_collect = SparkDF.collect

    def _no_collect(self):
        raise AssertionError("driver-side collect in the cogroup pip path")

    monkeypatch.setattr(SparkDF, "collect", _no_collect)
    try:
        n = out.count()  # full execution with collect() banned
    finally:
        monkeypatch.setattr(SparkDF, "collect", real_collect)
    got = {(r["point_id"], r["poly_id"]) for r in out.collect()}
    assert len(got) == n
    assert got == _pip_oracle(pts, polys)


def test_pip_join_driver_mode_refuses_oversized_polygon_table(spark):
    pts, polys = _big_poly_corpus(n_polys=300, n_pts=10)
    points_df = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(
        polys, "poly_id long, rings array<array<array<double>>>")
    with pytest.raises(ValueError, match="max_driver_rings"):
        pip_join(points_df, poly_df, 7, rings_distribution="driver",
                 max_driver_rings=100)
    # auto mode silently takes the cogroup path instead
    out = pip_join(points_df, poly_df, 7, max_driver_rings=100)
    assert {(r["point_id"], r["poly_id"]) for r in out.collect()} \
        == _pip_oracle(pts, polys)


def test_pip_join_cogroup_salted_matches_unsalted(spark):
    pts = _points_pdf()
    polys = _polygons()
    points_df = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(
        [(pid, rings) for pid, rings in polys],
        "poly_id long, rings array<array<array<double>>>")
    plain = pip_join(points_df, poly_df, 6, rings_distribution="cogroup")
    salted = pip_join(points_df, poly_df, 6, rings_distribution="cogroup",
                      salt=4)
    a = {(r["point_id"], r["poly_id"]) for r in plain.collect()}
    b = {(r["point_id"], r["poly_id"]) for r in salted.collect()}
    assert a == b == _pip_oracle(pts, polys)


def test_pip_join_modes_agree_on_malformed_polygons(spark):
    """Malformed rings (short rings, bad vertices) must produce the
    SAME output in driver and cogroup modes — auto mode picks by table
    size, so divergence would make results depend on row count."""
    pts = _points_pdf()
    sq = [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0],
          [-10.0, -10.0]]
    hole = [[-3.0, -3.0], [3.0, -3.0], [3.0, 3.0], [-3.0, 3.0],
            [-3.0, -3.0]]
    polys = [
        # short first ring is dropped; sq becomes the outer ring
        (0, [[[0.0, 0.0], [1.0, 1.0]], sq]),
        # 1-coordinate vertex inside an otherwise-valid outer ring
        (1, [[[1.0]] + sq, hole]),
        (2, [sq]),                                  # well-formed
        (3, [[[5.0, 5.0], [6.0, 6.0]]]),            # no valid ring
    ]
    points_df = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(
        polys, "poly_id long, rings array<array<array<double>>>")
    a = {(r["point_id"], r["poly_id"]) for r in
         pip_join(points_df, poly_df, 6,
                  rings_distribution="driver").collect()}
    b = {(r["point_id"], r["poly_id"]) for r in
         pip_join(points_df, poly_df, 6,
                  rings_distribution="cogroup").collect()}
    assert a == b == _pip_oracle(pts, polys)


def test_pip_join_shapes_agree_on_edge_cases(spark):
    """Driver shape == cogroup shape == brute-force ray cast on the
    cases where a cell cover can go wrong: points on cell boundaries,
    points clamped at x=±180 / y=±90, a holed polygon, polygons one
    cell big or lying on cell edges, overlapping polygons sharing
    cells, Arrow batches without a single candidate, NaN and null
    coordinates, and an empty polygon table. res 4 puts cell edges
    at multiples of 22.5° / 11.25°."""
    res = 4
    grid = [(x, y) for x in (-45.0, -22.5, 0.0, 22.5, 45.0)
            for y in (-22.5, -11.25, 0.0, 11.25, 22.5)]
    clamped = [(180.0, 0.0), (-180.0, 0.0), (0.0, 90.0), (0.0, -90.0),
               (180.0, 90.0), (-180.0, -90.0), (175.0, 90.0),
               (-175.0, -85.0), (185.0, 85.0)]
    rng = np.random.default_rng(11)
    scattered = list(zip(rng.uniform(-50, 50, 150), rng.uniform(-30, 30, 150)))
    xy = grid + clamped + scattered + [(float("nan"), 5.0)]
    pts = pd.DataFrame({"point_id": np.arange(len(xy), dtype=np.int64),
                        "x": [float(a) for a, _ in xy],
                        "y": [float(b) for _, b in xy]})
    # a separate frame whose partitions (hence Arrow batches) hold only
    # points that no polygon's cover reaches
    far = pd.DataFrame({"point_id": np.arange(1000, 1040, dtype=np.int64),
                        "x": np.linspace(-170.0, -150.0, 40),
                        "y": np.linspace(-60.0, -50.0, 40)})

    def rect(w, s, e, n):
        return [[w, s], [e, s], [e, n], [w, n], [w, s]]

    polys = [
        (0, [rect(-40.0, -30.0, 40.0, 30.0), rect(-10.0, -5.0, 10.0, 5.0)]),
        (1, [[[1.0, 1.0], [20.0, 2.0], [10.0, 10.0], [1.0, 1.0]]]),
        (2, [rect(0.0, 0.0, 22.5, 11.25)]),
        (3, [rect(22.5, 11.25, 45.0, 22.5)]),
        (4, [rect(-30.0, -20.0, 10.0, 15.0)]),
        (5, [rect(-10.0, -15.0, 30.0, 20.0)]),
        (6, [rect(170.0, 80.0, 180.0, 90.0)]),
        (7, [rect(-180.0, -90.0, -170.0, -80.0)]),
    ]
    # null coordinates still get a cell: the encoder's greatest/least skip nulls
    nulls = [(2000, None, 5.0), (2001, 5.0, None)]
    pt_schema = "point_id long, x double, y double"
    points_df = spark.createDataFrame(far, pt_schema) \
        .union(spark.createDataFrame(pts, pt_schema)) \
        .union(spark.createDataFrame(nulls, pt_schema))
    schema = "poly_id long, rings array<array<array<double>>>"
    all_pts = pd.concat([far, pts, pd.DataFrame(nulls, columns=pts.columns)],
                        ignore_index=True)
    for table in (polys, []):
        poly_df = spark.createDataFrame(table, schema)
        got = [{(r["point_id"], r["poly_id"]) for r in
                pip_join(points_df, poly_df, res,
                         rings_distribution=shape).collect()}
               for shape in ("driver", "cogroup")]
        assert got[0] == got[1] == _pip_oracle(all_pts, table)
    assert got[0] == set() and len(_pip_oracle(all_pts, polys)) > 100


def test_within_distance_join_matches_bruteforce(spark):
    from kml2geojson_spark.spatial.ops import within_distance_join
    pts = _points_pdf()
    points_df = spark.createDataFrame(pts)
    queries = (spark.createDataFrame(pts.head(20))
               .withColumnRenamed("point_id", "query_id"))
    for radius, res in ((3.0, 6), (7.5, 5)):
        got = {(r["query_id"], r["point_id"])
               for r in within_distance_join(points_df, queries,
                                             radius, res).collect()}
        qs = pts.head(20)
        expect = set()
        for _, q in qs.iterrows():
            d2 = (pts["x"] - q["x"]) ** 2 + (pts["y"] - q["y"]) ** 2
            for pid in pts["point_id"][d2 <= radius * radius]:
                expect.add((int(q["point_id"]), int(pid)))
        assert got == expect and got


def test_compact_uncompact_roundtrip(spark):
    """compact→uncompact restores the original uniform-res set exactly;
    a complete quad collapses all the way; finer-than-res uncompact
    input is refused."""
    from kml2geojson_spark.spatial import compact_cells, uncompact_cells
    from kml2geojson_spark.spatial.cells import (cell_encode_grid_np,
                                                 cell_res_col)

    # a full 4x4 block at res 4 (collapses two levels) + a lone cell
    gx = np.repeat(np.arange(8, 12), 4)
    gy = np.tile(np.arange(4, 8), 4)
    block = cell_encode_grid_np(gx, gy, 4).tolist()
    lone = int(cell_encode_grid_np([0], [0], 4)[0])
    cells = spark.createDataFrame([(c,) for c in block + [lone]],
                                  "cell_id long")
    comp = compact_cells(cells, min_res=0)
    got = {(int(r["cell_id"]) & 31, int(r["cell_id"]))
           for r in comp.collect()}
    # the 16-cell block = one res-2 cell; the lone cell stays at res 4
    assert {r for r, _ in got} == {2, 4}
    assert len(got) == 2
    # round-trip: expanding the compacted set back to res 4 gives the
    # original set exactly
    back = {int(r["cell_id"])
            for r in uncompact_cells(comp, 4).collect()}
    assert back == set(block + [lone])


def test_uncompact_refuses_finer_input(spark):
    """Validation is LAZY (raise_error in the plan — no extra
    validation scan per call); the error surfaces at action time."""
    from kml2geojson_spark.spatial import uncompact_cells
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    fine = int(cell_encode_grid_np([3], [3], 6)[0])
    df = spark.createDataFrame([(fine,)], "cell_id long")
    out = uncompact_cells(df, 4)  # must NOT raise at plan time
    with pytest.raises(Exception, match="finer"):
        out.collect()


def test_compact_cells_parent_child_mix_no_false_merge(spark):
    """An input mixing a parent with its own children must not fake a
    complete quad out of duplicated promotions: P1's children collapse
    into the pre-existing P1 (deduplicated), and the 3-of-4 quad
    {P1,P2,P3} must NOT merge to the grandparent."""
    from kml2geojson_spark.spatial import compact_cells
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    p = cell_encode_grid_np([0, 0, 1], [0, 1, 0], 2).tolist()  # P1,P2,P3
    children = cell_encode_grid_np([0, 0, 1, 1], [0, 1, 0, 1], 3).tolist()
    df = spark.createDataFrame([(c,) for c in p + children], "cell_id long")
    got = sorted(int(r["cell_id"])
                 for r in compact_cells(df, min_res=0).collect())
    assert got == sorted(p)  # children absorbed, no grandparent merge


def test_compact_cells_coarse_passthrough(spark):
    """Cells already coarser than min_res pass through unchanged (no
    error, no modification) — same behavior alone or mixed with finer
    cells."""
    from kml2geojson_spark.spatial import compact_cells
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    coarse = int(cell_encode_grid_np([1], [1], 1)[0])
    df = spark.createDataFrame([(coarse,)], "cell_id long")
    got = [int(r["cell_id"])
           for r in compact_cells(df, min_res=3).collect()]
    assert got == [coarse]


def test_compact_cells_idempotent_and_no_false_merge(spark):
    """An incomplete quad (3 of 4 siblings) must NOT collapse, and
    compacting an already-compact set is a no-op."""
    from kml2geojson_spark.spatial import compact_cells
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    trio = cell_encode_grid_np([0, 0, 1], [0, 1, 0], 3).tolist()
    df = spark.createDataFrame([(c,) for c in trio], "cell_id long")
    once = compact_cells(df, min_res=0)
    assert {int(r["cell_id"]) for r in once.collect()} == set(trio)
    twice = compact_cells(once, min_res=0)
    assert {int(r["cell_id"]) for r in twice.collect()} == set(trio)


# ---------------------------------------------------------------------------
# line_cover (polyline supercover)
# ---------------------------------------------------------------------------


def _brute_line_cells(coords, res, samples=20001):
    """Dense-sampling reference cover (a superset-misses-free check:
    every sampled cell must appear in the operator output)."""
    from kml2geojson_spark.spatial.cells import cell_encode_np
    out = set()
    c = np.asarray(coords, dtype=np.float64)
    if len(c) == 1:
        out.add(int(cell_encode_np(c[:, 0], c[:, 1], res)[0]))
        return out
    for a, b in zip(c[:-1], c[1:]):
        t = np.linspace(0.0, 1.0, samples)
        px = a[0] + t * (b[0] - a[0])
        py = a[1] + t * (b[1] - a[1])
        out.update(int(v) for v in np.unique(cell_encode_np(px, py, res)))
    return out


def test_line_cover_superset_of_dense_sampling(spark):
    from kml2geojson_spark.spatial import line_cover
    from kml2geojson_spark.spatial.cells import cell_bounds_np

    rng = np.random.RandomState(11)
    lines = []
    for i in range(15):
        npts = rng.randint(1, 6)
        xs = rng.uniform(-170, 170, npts)
        ys = rng.uniform(-80, 80, npts)
        lines.append((i, [[float(x), float(y)] for x, y in zip(xs, ys)]))
    df = spark.createDataFrame(
        lines, "line_id long, coords array<array<double>>")
    res = 7
    got = {}
    for r in line_cover(df, res).collect():
        got.setdefault(r.line_id, set()).add(r.cell_id)

    for lid, coords in lines:
        brute = _brute_line_cells(coords, res)
        cover = got.get(lid, set())
        # completeness: no sampled cell may be missing
        assert brute <= cover, (lid, sorted(brute - cover)[:5])
        # soundness: every extra cell's bbox genuinely intersects a
        # segment (the sampling just skipped over its sliver)
        for cid in cover - brute:
            w, s, e, n = [float(v[0]) for v in
                          cell_bounds_np(np.array([cid]))]
            c = np.asarray(coords)
            hit = False
            for a, b in zip(c[:-1], c[1:]):
                t = np.linspace(0.0, 1.0, 400001)
                px = a[0] + t * (b[0] - a[0])
                py = a[1] + t * (b[1] - a[1])
                if np.any((px >= w) & (px < e) & (py >= s) & (py < n)):
                    hit = True
                    break
            assert hit, (lid, cid)


def test_line_cover_degenerate_and_axis_aligned(spark):
    from kml2geojson_spark.spatial import line_cover
    from kml2geojson_spark.spatial.cells import cell_encode_np

    res = 6
    cw = 360.0 / (1 << res)
    lines = [
        (0, [[10.0, 20.0]]),                        # single vertex
        (1, [[10.0, 20.0], [10.0, 20.0]]),          # zero-length segment
        (2, [[-30.0, 5.0], [-30.0, 25.0]]),         # vertical
        (3, [[-30.0, 5.0], [40.0, 5.0]]),           # horizontal
        (4, [[0.0, 0.0], [0.0 + cw, 0.0]]),         # vertex ON a boundary
    ]
    df = spark.createDataFrame(
        lines, "line_id long, coords array<array<double>>")
    got = {}
    for r in line_cover(df, res).collect():
        got.setdefault(r.line_id, set()).add(r.cell_id)

    pt = int(cell_encode_np(np.array([10.0]), np.array([20.0]), res)[0])
    assert got[0] == {pt}
    assert got[1] == {pt}
    # vertical: one column, contiguous rows
    v = sorted(got[2])
    assert len(v) == len(_brute_line_cells(lines[2][1], res))
    # horizontal spans several columns, one row
    h = _brute_line_cells(lines[3][1], res)
    assert got[3] == h
    # boundary vertex belongs to the upper cell (half-open convention):
    # the segment [0, cw] covers exactly two cells
    assert len(got[4]) == 2


def test_line_cover_equals_polygon_edges_on_grid(spark):
    """Supercover of a diamond's edge cycle must hit every boundary
    cell the polygon cover clips with fraction < 1 (edge cells)."""
    from kml2geojson_spark.spatial import line_cover, polygon_cover

    ring = [[20.0, 10.0], [28.0, 18.0], [20.0, 26.0],
            [12.0, 18.0], [20.0, 10.0]]
    lines = spark.createDataFrame(
        [(0, ring)], "line_id long, coords array<array<double>>")
    polys = spark.createDataFrame(
        [(0, [ring])],
        "poly_id long, rings array<array<array<double>>>")
    res = 8
    edge_cells = {r.cell_id for r in line_cover(lines, res).collect()}
    cov = {r.cell_id: r.fraction
           for r in polygon_cover(polys, res).collect()}
    partial = {c for c, f in cov.items() if f < 1.0 - 1e-12}
    # every partially-covered cell is crossed by the boundary
    assert partial <= edge_cells, sorted(partial - edge_cells)[:5]


# ---------------------------------------------------------------------------
# grid_cluster
# ---------------------------------------------------------------------------


def _brute_grid_cluster(pts, res, min_count=1, diagonal=True):
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    n = 1 << res
    gx = np.clip(np.floor((np.array([p[0] for p in pts]) + 180.0)
                          / 360.0 * n), 0, n - 1).astype(int)
    gy = np.clip(np.floor((np.array([p[1] for p in pts]) + 90.0)
                          / 180.0 * n), 0, n - 1).astype(int)
    occ = {}
    for a, b in zip(gx, gy):
        occ[(a, b)] = occ.get((a, b), 0) + 1
    occ = {c: k for c, k in occ.items() if k >= min_count}
    cells = {c: int(cell_encode_grid_np(np.array([c[0]]),
                                        np.array([c[1]]), res)[0])
             for c in occ}
    parent = {c: c for c in occ}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (diagonal or dx == 0 or dy == 0)]
    for (a, b) in occ:
        for dx, dy in offs:
            nb = ((a + dx) % n, b + dy)
            if nb in occ and 0 <= nb[1] < n:
                ra, rb = find((a, b)), find(nb)
                if ra != rb:
                    parent[ra] = rb
    groups = {}
    for c in occ:
        groups.setdefault(find(c), []).append(c)
    expect = {}
    for mem in groups.values():
        lbl = min(cells[m] for m in mem)
        for m in mem:
            expect[cells[m]] = (lbl, occ[m])
    return expect


def test_grid_cluster_matches_union_find(spark):
    from kml2geojson_spark.spatial import grid_cluster
    rng = np.random.RandomState(3)
    pts = [(float(x), float(y)) for x, y in
           zip(rng.uniform(-175, 175, 400), rng.uniform(-85, 85, 400))]
    df = spark.createDataFrame(pts, "x double, y double")
    for min_count, diagonal in [(1, True), (2, True), (1, False)]:
        got = {r.cell_id: (r.cluster_id, r.n_points)
               for r in grid_cluster(df, 5, min_count=min_count,
                                     diagonal=diagonal).collect()}
        expect = _brute_grid_cluster(pts, 5, min_count=min_count,
                                     diagonal=diagonal)
        assert got == expect, (min_count, diagonal,
                               len(got), len(expect))


def test_grid_cluster_antimeridian_wrap(spark):
    """Two blobs hugging x = ±180 at the same latitude must merge into
    ONE cluster through the antimeridian (x wraps, like the k-ring)."""
    from kml2geojson_spark.spatial import grid_cluster
    pts = [(-179.9, 10.0), (179.9, 10.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_cluster(df, 4).collect()
    assert len(out) == 2
    assert len({r.cluster_id for r in out}) == 1


def test_grid_cluster_pole_rows_do_not_wrap(spark):
    """y does NOT wrap: a cell on the north edge and one on the south
    edge in the same column stay separate clusters."""
    from kml2geojson_spark.spatial import grid_cluster
    pts = [(10.0, 89.9), (10.0, -89.9)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_cluster(df, 4).collect()
    assert len({r.cluster_id for r in out}) == 2


# ---------------------------------------------------------------------------
# spatial_extent
# ---------------------------------------------------------------------------


def test_spatial_extent_exact_and_partition_invariant(spark):
    from kml2geojson_spark.spatial import spatial_extent
    rng = np.random.RandomState(5)
    rows = [(int(i % 4), float(x), float(y)) for i, (x, y) in
            enumerate(zip(rng.uniform(-170, 170, 500),
                          rng.uniform(-80, 80, 500)))]
    df = spark.createDataFrame(rows, "g long, x double, y double")

    def run(nparts):
        out = spatial_extent(df.repartition(nparts), "g").collect()
        return {r.g: (r.minx, r.miny, r.maxx, r.maxy, r.n_points,
                      r.cx, r.cy) for r in out}

    a, b = run(1), run(16)
    assert a == b  # centroid sums integerized → order-independent

    # exact against numpy
    for g in range(4):
        sub = np.array([(x, y) for gg, x, y in rows if gg == g])
        minx, miny = sub.min(axis=0)
        maxx, maxy = sub.max(axis=0)
        sx = int(np.round(sub[:, 0] * 1e9).astype(np.int64).sum())
        sy = int(np.round(sub[:, 1] * 1e9).astype(np.int64).sum())
        got = a[g]
        assert got[:5] == (minx, miny, maxx, maxy, len(sub))
        assert got[5] == (sx / len(sub)) / 1e9
        assert got[6] == (sy / len(sub)) / 1e9


# ---------------------------------------------------------------------------
# trajectory_stats
# ---------------------------------------------------------------------------


def test_trajectory_stats_hand_example(spark):
    import math
    from kml2geojson_spark.spatial.ops import trajectory_stats
    rows = [(1, 0, 0.0, 0.0), (1, 1, 3.0, 4.0), (1, 2, 3.0, 0.0),
            (2, 0, 7.0, 7.0)]
    df = spark.createDataFrame(rows, "tid long, seq long, x double, y double")
    out = {r.tid: r for r in trajectory_stats(df, "tid", "seq").collect()}
    assert out[1].n_points == 3
    assert out[1].path_nano == round(5.0 * 1e9) + round(4.0 * 1e9)
    assert out[1].disp_nano == round(3.0 * 1e9)
    # singleton trajectory: zero path, zero displacement
    assert out[2].n_points == 1
    assert out[2].path_nano == 0 and out[2].disp_nano == 0


def test_trajectory_stats_order_column_respected(spark):
    """Rows arrive shuffled; order_col (not arrival order) defines the
    path."""
    from kml2geojson_spark.spatial.ops import trajectory_stats
    rows = [(1, 2, 2.0, 0.0), (1, 0, 0.0, 0.0), (1, 1, 1.0, 0.0)]
    df = spark.createDataFrame(rows, "tid long, seq long, x double, y double") \
        .repartition(4)
    r = trajectory_stats(df, "tid", "seq").collect()[0]
    assert r.path_nano == 2_000_000_000  # 0→1→2, not a zigzag
    assert r.disp_nano == 2_000_000_000


# ---------------------------------------------------------------------------
# rect_intersection_join
# ---------------------------------------------------------------------------


def _brute_rect_intersections(rects):
    out = {}
    for i, (ia, wa, sa, ea, na) in enumerate(rects):
        for ib, wb, sb, eb, nb in rects[i + 1:]:
            ca, cb = wa > ea, wb > eb
            pa = [(wa, 180.0), (-180.0, ea)] if ca else [(wa, ea)]
            pb = [(wb, 180.0), (-180.0, eb)] if cb else [(wb, eb)]
            w = sum(max(0.0, min(e1, e2) - max(w1, w2))
                    for w1, e1 in pa for w2, e2 in pb)
            h = max(0.0, min(na, nb) - max(sa, sb))
            if w > 0 and h > 0:
                out[(ia, ib)] = (w, h)
    return out


def test_rect_intersection_matches_brute_force(spark):
    import random
    from kml2geojson_spark.spatial.ops import rect_intersection_join
    rng = random.Random(7)
    rects = []
    for i in range(60):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-60, 60)
        hw, hh = rng.uniform(1, 12), rng.uniform(1, 12)
        rects.append((i, cx - hw, cy - hh, cx + hw, cy + hh))
    # a few antimeridian-crossing rects
    for i in range(60, 66):
        s = rng.uniform(-50, 40)
        rects.append((i, rng.uniform(170, 179), s,
                      rng.uniform(-179, -170), s + rng.uniform(2, 10)))
    df = spark.createDataFrame(
        rects, "rect_id long, west double, south double, "
               "east double, north double")
    got = {(r.rect_a, r.rect_b): (r.inter_w, r.inter_h)
           for r in rect_intersection_join(df, 4).collect()}
    exp = _brute_rect_intersections(rects)
    assert set(got) == set(exp)
    for k, (w, h) in exp.items():
        assert abs(got[k][0] - w) < 1e-9 and abs(got[k][1] - h) < 1e-9


def test_rect_intersection_simple_pair_no_double_count(spark):
    """Non-crossing rects must use ONE x piece — the empty second
    piece contributes exactly zero width."""
    from kml2geojson_spark.spatial.ops import rect_intersection_join
    df = spark.createDataFrame(
        [(1, -10.0, -10.0, 10.0, 10.0), (2, 0.0, 0.0, 20.0, 20.0)],
        "rect_id long, west double, south double, east double, north double")
    r = rect_intersection_join(df, 3).collect()[0]
    assert r.inter_w == 10.0 and r.inter_h == 10.0
    assert r.inter_area_nano == 100_000_000_000


# ---------------------------------------------------------------------------
# merge_tile_counts / bbox_prune_filter
# ---------------------------------------------------------------------------

def test_merge_tile_counts_equals_full(spark):
    import pytest
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import merge_tile_counts
    pts = spark.range(3000).selectExpr(
        "id AS point_id",
        "CAST(id % 360 AS DOUBLE) - 180 AS x",
        "CAST(id % 170 AS DOUBLE) - 85 AS y")

    def counts(df):
        from pyspark.sql import functions as F
        return (encode_points(df, 8).groupBy("cell_id")
                .agg(F.count(F.lit(1)).alias("n")))

    full = {(r["cell_id"], r["n"]) for r in counts(pts).collect()}
    parts = [counts(pts.where(f"id % 3 = {k}")) for k in range(3)]
    merged = {(r["cell_id"], r["n"])
              for r in merge_tile_counts(parts).collect()}
    assert merged == full
    with pytest.raises(ValueError):
        merge_tile_counts([])


def test_bbox_prune_filter_equals_brute(spark):
    from kml2geojson_spark.spatial.ops import bbox_prune_filter
    pts = spark.range(5000).selectExpr(
        "id AS point_id",
        "(CAST(id * 7919 AS DOUBLE) % 36000) / 100 - 180 AS x",
        "(CAST(id * 104729 AS DOUBLE) % 17000) / 100 - 85 AS y")
    for bbox in [(-60.0, -30.0, 55.0, 42.0), (170.0, 80.0, 180.0, 90.0),
                 (-1.0, -1.0, 1.0, 1.0)]:
        w, s, e, n = bbox
        got = {r["point_id"] for r in bbox_prune_filter(
            pts, west=w, south=s, east=e, north=n, res=9).collect()}
        brute = {r["point_id"] for r in pts.where(
            f"x >= {w} AND x < {e} AND y >= {s} AND y < {n}").collect()}
        assert got == brute, bbox


def test_bbox_prune_filter_stays_jvm(spark):
    from kml2geojson_spark.spatial.ops import bbox_prune_filter
    pts = spark.range(100).selectExpr(
        "id AS point_id", "CAST(id AS DOUBLE) / 3 AS x",
        "CAST(id AS DOUBLE) / 7 AS y")
    df = bbox_prune_filter(pts, west=0.0, south=0.0, east=20.0,
                           north=10.0, res=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # a pure scan filter: no shuffle
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


# ---------------------------------------------------------------------------
# nearest_segment_join (map matching)
# ---------------------------------------------------------------------------

def _brute_nearest_segment(points, segs):
    """Numpy brute-force nearest segment with the documented
    (dist2 asc, seg_id asc) tie-break. points: [(pid, x, y)],
    segs: [(sid, x0, y0, x1, y1)] → {pid: (sid, dist2, t)}."""
    out = {}
    for pid, px, py in points:
        best = None
        for sid, x0, y0, x1, y1 in segs:
            dx, dy = x1 - x0, y1 - y0
            len2 = dx * dx + dy * dy
            if len2 == 0.0:
                t = 0.0
            else:
                t = min(1.0, max(0.0, ((px - x0) * dx + (py - y0) * dy)
                                 / len2))
            cx, cy = x0 + t * dx, y0 + t * dy
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            if best is None or (d2, sid) < (best[1], best[0]):
                best = (sid, d2, t)
        out[pid] = best
    return out


def test_nearest_segment_matches_brute_force(spark):
    from kml2geojson_spark.spatial import nearest_segment_join

    rng = np.random.RandomState(29)
    points = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-60, 60, 80), rng.uniform(-40, 40, 80)))]
    segs = []
    for s in range(25):
        x0, y0 = rng.uniform(-60, 60), rng.uniform(-40, 40)
        segs.append((s, float(x0), float(y0),
                     float(x0 + rng.uniform(-3, 3)),
                     float(y0 + rng.uniform(-3, 3))))
    segs.append((25, 10.0, 10.0, 10.0, 10.0))  # zero-length
    pdf = spark.createDataFrame(points, "point_id long, x double, y double")
    sdf = spark.createDataFrame(
        segs, "seg_id long, x0 double, y0 double, x1 double, y1 double")
    # res 2 → min cell dim 22.5°, radius 6 → 135° guarantee: every
    # point's true nearest is inside the ring, result must be exact
    got = {r.point_id: (r.seg_id, r.dist2, r.t)
           for r in nearest_segment_join(pdf, sdf, res=2, radius=6)
           .collect()}
    want = _brute_nearest_segment(points, segs)
    assert set(got) == set(want)
    for pid in want:
        assert got[pid][0] == want[pid][0], (pid, got[pid], want[pid])
        assert got[pid][1] == pytest.approx(want[pid][1], abs=0.0), pid
        assert 0.0 <= got[pid][2] <= 1.0


def test_nearest_segment_edge_cases(spark):
    from kml2geojson_spark.spatial import nearest_segment_join

    pts = spark.createDataFrame(
        [(0, 5.0, 1.0),    # beyond the right endpoint → t clamps to 1
         (1, -5.0, 1.0),   # beyond the left endpoint → t clamps to 0
         (2, 1.0, 1.0)],   # interior projection
        "point_id long, x double, y double")
    segs = spark.createDataFrame(
        [(7, 0.0, 0.0, 2.0, 0.0)],
        "seg_id long, x0 double, y0 double, x1 double, y1 double")
    rows = {r.point_id: r for r in
            nearest_segment_join(pts, segs, res=3, radius=4).collect()}
    assert rows[0].t == 1.0 and rows[0].dist2 == pytest.approx(9.0 + 1.0)
    assert rows[1].t == 0.0 and rows[1].dist2 == pytest.approx(25.0 + 1.0)
    assert rows[2].t == pytest.approx(0.5) and rows[2].dist2 == 1.0

    # equidistant tie → smallest seg_id wins
    pts2 = spark.createDataFrame([(0, 0.0, 0.0)],
                                 "point_id long, x double, y double")
    segs2 = spark.createDataFrame(
        [(9, 0.0, 2.0, 1.0, 2.0), (4, 0.0, -2.0, 1.0, -2.0)],
        "seg_id long, x0 double, y0 double, x1 double, y1 double")
    [r] = nearest_segment_join(pts2, segs2, res=3, radius=6).collect()
    assert r.seg_id == 4 and r.dist2 == 4.0


def test_nearest_segment_ring_bound_drops_far_points(spark):
    from kml2geojson_spark.spatial import nearest_segment_join

    # res 5 → cell 11.25×5.625; radius 1 → 5.625° guarantee. The far
    # point (90° away) has no segment in its 1-ring → dropped.
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 90.0, 0.5)],
        "point_id long, x double, y double")
    segs = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 0.0)],
        "seg_id long, x0 double, y0 double, x1 double, y1 double")
    got = {r.point_id for r in
           nearest_segment_join(pts, segs, res=5, radius=1).collect()}
    assert got == {0}


def test_nearest_segment_plan_shape(spark):
    """Candidates are equi-joins (cell, then seg key) + ONE final
    hash-aggregate arg-min: no cartesian/BNL, no window sort, no
    Python eval node."""
    from kml2geojson_spark.spatial import nearest_segment_join

    pts = spark.range(50).selectExpr(
        "id AS point_id", "CAST(id % 10 AS DOUBLE) AS x",
        "CAST(id % 7 AS DOUBLE) AS y")
    segs = spark.range(20).selectExpr(
        "id AS seg_id", "CAST(id AS DOUBLE) AS x0",
        "CAST(id % 5 AS DOUBLE) AS y0", "CAST(id + 1 AS DOUBLE) AS x1",
        "CAST(id % 5 AS DOUBLE) AS y1")
    df = nearest_segment_join(pts, segs, res=4, radius=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} in nearest_segment plan"
    assert "HashAggregate" in plan
