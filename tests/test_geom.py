"""Vector machinery tests: WKT/PIP kernel, filter_geom fast paths,
extract_geom long rows, zonal stats (FIXTURES.md §4)."""

import numpy as np
import pytest

from gdalcubes_spark.cube import dummy_cube
from gdalcubes_spark.geom import parse_wkt, rect_wkt
from gdalcubes_spark.grid import ChunkGrid, CubeView
from gdalcubes_spark.operators.extract_geom import extract_geom, zonal_stats


class TestGeomKernel:
    def test_pip_square(self):
        g = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        px = np.array([5.0, 15.0, -1.0, 9.99])
        py = np.array([5.0, 5.0, 5.0, 9.99])
        assert list(g.contains(px, py)) == [True, False, False, True]

    def test_pip_hole(self):
        g = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
        assert list(g.contains(np.array([5.0, 2.0]), np.array([5.0, 2.0]))) == [False, True]

    def test_multipolygon(self):
        g = parse_wkt("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))")
        assert list(g.contains(np.array([1.0, 6.0, 3.5]), np.array([1.0, 6.0, 3.5]))) == [True, True, False]

    def test_contains_rect(self):
        g = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        assert g.contains_rect(2, 2, 8, 8)
        assert not g.contains_rect(-1, 2, 8, 8)
        h = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
        assert not h.contains_rect(3, 3, 7, 7)  # hole pokes through
        assert h.contains_rect(0.5, 0.5, 3.0, 3.0)


def grid_view():
    return CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                           t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=1.0, dy=1.0)


class TestFilterGeom:
    def test_mask_and_crop(self, spark):
        v = grid_view()
        g = ChunkGrid(nt=3, ny=10, nx=10, ct=1, cy=3, cx=4)  # boundary chunks
        c = dummy_cube(spark, v, 1, 1.0, chunking=g)
        r = c.filter_geom("POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))")
        a = r.collect_array()
        assert a.shape == (1, 3, 6, 6)
        assert np.allclose(a, 1.0)  # polygon exactly covers cells 2..8

    def test_triangle(self, spark):
        v = grid_view()
        c = dummy_cube(spark, v, 1, 1.0, chunking=ChunkGrid(nt=3, ny=10, nx=10, ct=3, cy=5, cx=5))
        r = c.filter_geom("POLYGON ((0 0, 10 0, 10 10, 0 0))")  # lower-right triangle
        a = r.collect_array()
        # cell centers on/below the diagonal y=x are kept (boundary centers
        # count as inside under the even-odd convention)
        got = ~np.isnan(a[0, 0])
        ys = 10 - (np.arange(10) + 0.5)  # cell center y per row (top→bottom)
        xs = np.arange(10) + 0.5
        want = ys[:, None] <= xs[None, :]
        assert np.array_equal(got, want)

    def test_disjoint_gives_empty(self, spark):
        v = grid_view()
        c = dummy_cube(spark, v, 1, 1.0)
        r = c.filter_geom("POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))")
        assert np.all(np.isnan(r.collect_array()))


class TestExtractGeom:
    def test_polygon_rows(self, spark):
        v = grid_view()
        g = ChunkGrid(nt=3, ny=10, nx=10, ct=1, cy=4, cx=4)
        c = dummy_cube(spark, v, 2, 3.0, chunking=g).apply_pixel("ix + iy*10", ["pos"], keep_bands=False)
        feats = spark.createDataFrame([(1, rect_wkt(0, 8, 2, 10)),   # top-left 2x2 cells
                                       (2, rect_wkt(7, 0, 10, 2))],  # bottom-right 3x2
                                      "fid long, wkt string")
        rows = extract_geom(c, feats)
        pdf = rows.toPandas().sort_values(["fid", "it", "pos"])
        # feature 1: cells (iy,ix) in {0,1}x{0,1} → pos {0,1,10,11} × 3 times
        f1 = pdf[pdf.fid == 1]
        assert len(f1) == 4 * 3
        assert sorted(f1[f1.it == 0]["pos"]) == [0.0, 1.0, 10.0, 11.0]
        f2 = pdf[pdf.fid == 2]
        assert len(f2) == 6 * 3
        assert set(f2["pos"]) == {87.0, 88.0, 89.0, 97.0, 98.0, 99.0}

    def test_point_and_time_features(self, spark):
        import datetime as dt
        v = grid_view()
        c = dummy_cube(spark, v, 1, 1.0).apply_pixel("it*100 + ix", ["v"])
        feats = spark.createDataFrame(
            [(1, "POINT (2.5 7.5)", dt.datetime(2021, 1, 2)),
             (2, "POINT (5.5 5.5)", dt.datetime(2021, 1, 1)),
             (3, "POINT (5.5 5.5)", dt.datetime(2020, 6, 1))],  # outside time range
            "fid long, wkt string, t timestamp")
        pdf = extract_geom(c, feats, time_column="t").toPandas().sort_values("fid")
        assert list(pdf["fid"]) == [1, 2]
        assert list(pdf["v"]) == [102.0, 5.0]  # it=1,ix=2; it=0,ix=5
        assert list(pdf["time"]) == ["2021-01-02", "2021-01-01"]

    def test_zonal_stats(self, spark):
        v = grid_view()
        c = dummy_cube(spark, v, 1, 1.0).apply_pixel("ix", ["vx"])
        feats = spark.createDataFrame([(7, rect_wkt(0, 0, 10, 10))], "fid long, wkt string")
        zs = zonal_stats(c, feats, ["mean", "median", "count", "min", "max"], by_time=True)
        pdf = zs.toPandas().sort_values("time")
        assert len(pdf) == 3
        assert np.allclose(pdf["vx_mean"], 4.5)
        assert np.allclose(pdf["vx_median"], 4.5)
        assert np.allclose(pdf["vx_count"], 100)
        assert np.allclose(pdf["vx_min"], 0.0)
        assert np.allclose(pdf["vx_max"], 9.0)

    def test_partial_fast_path_matches_long_form(self, spark):
        """Combinable-only zonal stats take the partial-state path (one row
        per feature×slice×chunk through the shuffle); results must equal the
        long-form path exactly — including per-band NaN handling where one
        band is NaN and another isn't in the same cell."""
        v = grid_view()
        g = ChunkGrid(nt=3, ny=10, nx=10, ct=1, cy=4, cx=4)
        c = (dummy_cube(spark, v, 1, 1.0, chunking=g)
             .apply_pixel(["ix + iy", "(ix % 2 == 0) * iy / (ix % 2 == 0)"],
                          ["a", "b"]))  # b is NaN on odd ix (0/0), a never NaN
        feats = spark.createDataFrame([(1, rect_wkt(0, 0, 10, 10)),
                                       (2, rect_wkt(3, 3, 8, 9))],
                                      "fid long, wkt string")
        funcs = ["mean", "count", "min", "max", "sum"]
        fast = zonal_stats(c, feats, funcs, by_time=True).toPandas() \
            .sort_values(["fid", "time"]).reset_index(drop=True)
        # force the long-form path by asking for median too, then dropping it
        slow = zonal_stats(c, feats, funcs + ["median"], by_time=True).toPandas() \
            .sort_values(["fid", "time"]).reset_index(drop=True)
        slow = slow[[col for col in slow.columns if not col.endswith("_median")]]
        assert list(fast.columns) == list(slow.columns)
        for col in fast.columns:
            if fast[col].dtype == object:
                assert (fast[col] == slow[col]).all(), col
            else:
                assert np.allclose(fast[col].astype(float), slow[col].astype(float),
                                   equal_nan=True), col

    def test_points_outside_the_view_give_no_rows(self, spark):
        """A point in the one-cell band just outside the view, or further
        out, covers no cell; truncating its cell index toward zero would hand
        it the edge cell's value."""
        v = grid_view()
        g = ChunkGrid(nt=3, ny=10, nx=10, ct=1, cy=4, cx=4)
        c = dummy_cube(spark, v, 1, 1.0, chunking=g).apply_pixel("ix + iy*100", ["pos"], keep_bands=False)
        feats = spark.createDataFrame([(1, "POINT (-0.5 5.5)"),    # band left of the view
                                       (2, "POINT (5.5 10.4)"),    # band above it
                                       (3, "POINT (-1.5 5.5)"),
                                       (4, "POINT (5.5 11.5)"),
                                       (5, "POINT (3.5 6.5)")],    # inside: (iy 3, ix 3)
                                      "fid long, wkt string")
        pdf = extract_geom(c, feats).toPandas().sort_values("it")
        assert list(pdf["fid"]) == [5, 5, 5]
        assert list(pdf["pos"]) == [303.0] * 3


# the WKT shapes extract_geom accepts: holes, multipolygons, lowercase,
# exponents, negative coordinates and points
WKT_CORPUS = [
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
    "polygon((1 1, 3 1, 3 3, 1 1))",
    "POLYGON ((-1.5e1 -2.5E-1, 1e+2 -3, 4.25 7.5e0, -1.5e1 -2.5E-1))",
    "  MultiPolygon (((-3 -4, -1 -4, -1 -2, -3 -4)), ((8 9, 9.5 9, 9.5 12, 8 9)))",
    rect_wkt(0.25, 0.5, 6.75, 8.125),
    rect_wkt(-2, -3, 4, 5),
]
POINT_CORPUS = {"POINT (2.5 7.5)": (2.5, 7.5), "point(-0.5 1e1)": (-0.5, 10.0),
                " POINT ( 3 -4.25 ) ": (3.0, -4.25)}


class TestWktCover:
    def test_jvm_bbox_matches_parse_wkt(self, spark):
        from gdalcubes_spark.operators.extract_geom import _WKT_BBOX
        wkts = WKT_CORPUS + list(POINT_CORPUS)
        df = spark.createDataFrame([(w,) for w in wkts], "wkt string")
        got = [tuple(r) for r in df.selectExpr(*_WKT_BBOX).collect()]
        want = [tuple(parse_wkt(w).bbox) for w in WKT_CORPUS]
        want += [(x, y, x, y) for x, y in POINT_CORPUS.values()]
        assert got == [tuple(float(v) for v in w) for w in want]

    def test_unsupported_wkt_fails_the_job(self, spark):
        with pytest.raises(ValueError, match="unsupported WKT"):
            parse_wkt("LINESTRING (0 0, 1 1)")
        v = grid_view()
        c = dummy_cube(spark, v, 1, 1.0)
        feats = spark.createDataFrame([(1, "LINESTRING (0 0, 1 1)")], "fid long, wkt string")
        with pytest.raises(Exception, match="unsupported WKT"):
            extract_geom(c, feats).collect()
