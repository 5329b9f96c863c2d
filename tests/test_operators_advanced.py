"""Golden tests: aggregate_time/space, window_time/space, fill_time,
join_bands, stream ops — values from inst/tinytest/test_aggregate_time.R and
test_window_space.R."""

import numpy as np
import pytest

from gdalcubes_spark.cube import cube_from_array, dummy_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


def yearly_view(nx=10, ny=10):
    return CubeView.create(srs="EPSG:4326", left=0, right=nx, bottom=0, top=ny,
                           t0="2021-01-01", t1="2021-12-31", dt="P1D", dx=1.0, dy=1.0)


DAYS_PER_MONTH = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]


class TestAggregateTime:
    def test_p1d_to_p1m_sum_days(self, spark):
        # test_aggregate_time.R:8-25 — calendar binning proof
        v = yearly_view(4, 4)
        g = ChunkGrid(nt=365, ny=4, nx=4, ct=50, cy=4, cx=4)
        c = dummy_cube(spark, v, 1, 1.0, chunking=g)
        r = c.aggregate_time(dt="P1M", method="sum")
        assert r.view.nt == 12
        a = r.collect_array()
        assert a.shape == (1, 12, 4, 4)
        for m in range(12):
            assert np.allclose(a[0, m], DAYS_PER_MONTH[m]), m

    def test_fact_equals_dt(self, spark):
        # fact=5 ≡ dt=P5D (test_aggregate_time.R:40-46)
        v = yearly_view(4, 4)
        g = ChunkGrid(nt=365, ny=4, nx=4, ct=100, cy=4, cx=4)
        c = dummy_cube(spark, v, 1, 2.0, chunking=g)
        a1 = c.aggregate_time(fact=5, method="sum").collect_array()
        a2 = c.aggregate_time(dt="P5D", method="sum").collect_array()
        assert a1.shape == a2.shape == (1, 73, 4, 4)
        assert np.allclose(a1, a2)
        assert np.allclose(a1[0, 0], 10.0)

    def test_mean_median_var(self, spark):
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-06", dt="P1D", dx=1.0, dy=1.0)
        arr = np.arange(6, dtype="float64").reshape(1, 6, 1, 1) * np.ones((1, 6, 2, 2))
        c = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=6, ny=2, nx=2, ct=2, cy=2, cx=2))
        r = c.aggregate_time(fact=3, method="median")
        a = r.collect_array()
        assert a.shape == (1, 2, 2, 2)
        assert np.allclose(a[0, 0], 1.0) and np.allclose(a[0, 1], 4.0)
        av = c.aggregate_time(fact=3, method="var").collect_array()
        assert np.allclose(av, 1.0)  # var([0,1,2], ddof=1) == 1


class TestAggregateSpace:
    def test_fact2_sum(self, spark):
        v = yearly_view(8, 8)
        v = CubeView.create(srs="EPSG:4326", left=0, right=8, bottom=0, top=8,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, 1, 1.0, chunking=ChunkGrid(nt=2, ny=8, nx=8, ct=1, cy=3, cx=3))
        r = c.aggregate_space(fact=2, method="sum")
        assert (r.view.nx, r.view.ny) == (4, 4)
        a = r.collect_array()
        assert a.shape == (1, 2, 4, 4)
        assert np.allclose(a, 4.0)  # 2x2 input cells per output cell

    def test_mean_with_gradient(self, spark):
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, 1, 0.0, chunking=ChunkGrid(nt=1, ny=4, nx=4, ct=1, cy=2, cx=2))
        c = c.apply_pixel("ix", ["vx"])
        a = c.aggregate_space(fact=2, method="mean").collect_array()
        assert a.shape == (1, 1, 2, 2)
        assert np.allclose(a[0, 0], [[0.5, 2.5], [0.5, 2.5]])


class TestWindowSpace:
    def _cube(self, spark, chunking):
        # 10x10, single time step (dt P365D style), fill 1
        v = CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                            t0="2021-01-01", t1="2021-12-31", dt="P365D", dx=1.0, dy=1.0)
        assert v.nt == 1
        return dummy_cube(spark, v, 1, 1.0, chunking=chunking)

    def test_count_3x3_no_pad(self, spark):
        # test_window_space.R:7-31: 9 interior / 6 edge / 4 corner
        c = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=10, cx=10))
        a = c.window_space(reducer="count(band1)", window=(3, 3)).collect_array()[0, 0]
        assert a[0, 0] == 4 and a[0, 9] == 4 and a[9, 0] == 4 and a[9, 9] == 4
        assert a[0, 5] == 6 and a[5, 0] == 6
        assert np.all(a[1:9, 1:9] == 9)

    def test_chunking_invariance(self, spark):
        # test_window_space.R:44-49 — THE halo-exchange correctness test
        a1 = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=10, cx=10)) \
            .window_space(reducer="count(band1)", window=(3, 3)).collect_array()
        a2 = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=3, cx=2)) \
            .window_space(reducer="count(band1)", window=(3, 3)).collect_array()
        assert np.allclose(a1, a2)

    def test_kernel_pad0_equals_count(self, spark):
        c = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=4, cx=5))
        k = np.ones((3, 3))
        a = c.window_space(kernel=k, pad="constant", pad_value=0.0).collect_array()[0, 0]
        cnt = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=10, cx=10)) \
            .window_space(reducer="count(band1)", window=(3, 3)).collect_array()[0, 0]
        assert np.allclose(a, cnt)

    def test_reflect_replicate_all9(self, spark):
        for pad in ("reflect", "replicate"):
            c = self._cube(spark, ChunkGrid(nt=1, ny=10, nx=10, ct=1, cy=3, cx=2))
            a = c.window_space(kernel=np.ones((3, 3)), pad=pad).collect_array()[0, 0]
            assert np.allclose(a, 9.0), pad


class TestWindowTime:
    def test_rolling_sum(self, spark):
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-10", dt="P1D", dx=1.0, dy=1.0)
        arr = np.arange(10, dtype="float64").reshape(1, 10, 1, 1) * np.ones((1, 10, 2, 2))
        for ct in (10, 3):  # narrow path and halo path
            c = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=10, ny=2, nx=2, ct=ct, cy=2, cx=2))
            a = c.window_time((1, 1), reducer="sum(band1)").collect_array()
            # t=0: 0+1 =1 (NaN edge skipped); t=5: 4+5+6=15
            assert np.allclose(a[0, 0], 1.0), ct
            assert np.allclose(a[0, 5], 15.0), ct
            assert np.allclose(a[0, 9], 17.0), ct

    def test_kernel_nan_propagates(self, spark):
        v = CubeView.create(srs="EPSG:4326", left=0, right=1, bottom=0, top=1,
                            t0="2021-01-01", t1="2021-01-05", dt="P1D", dx=1.0, dy=1.0)
        arr = np.array([1.0, np.nan, 3.0, 4.0, 5.0]).reshape(1, 5, 1, 1)
        c = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=5, ny=1, nx=1, ct=5, cy=1, cx=1))
        a = c.window_time((1, 1), kernel=[0.25, 0.5, 0.25]).collect_array()[0, :, 0, 0]
        assert np.all(np.isnan(a[[0, 1, 2, 4]]))  # edges + NaN neighborhood
        assert np.allclose(a[3], 0.25 * 3 + 0.5 * 4 + 0.25 * 5)


class TestFillTime:
    def _series_cube(self, spark, vals, ct):
        n = len(vals)
        v = CubeView.create(srs="EPSG:4326", left=0, right=1, bottom=0, top=1,
                            t0="2021-01-01", t1=f"2021-01-{n:02d}", dt="P1D", dx=1.0, dy=1.0)
        arr = np.array(vals, dtype="float64").reshape(1, n, 1, 1)
        return cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=n, ny=1, nx=1, ct=ct, cy=1, cx=1))

    @pytest.mark.parametrize("ct", [8, 2])
    def test_methods(self, spark, ct):
        vals = [np.nan, 2.0, np.nan, np.nan, 8.0, np.nan, np.nan, np.nan]
        c = self._series_cube(spark, vals, ct)
        locf = c.fill_time("locf").collect_array()[0, :, 0, 0]
        assert np.isnan(locf[0]) and np.allclose(locf[1:4], [2, 2, 2]) and np.allclose(locf[4:], 8)
        nocb = c.fill_time("nocb").collect_array()[0, :, 0, 0]
        assert np.allclose(nocb[:5], [2, 2, 8, 8, 8]) and np.all(np.isnan(nocb[5:]))
        lin = c.fill_time("linear").collect_array()[0, :, 0, 0]
        assert np.allclose(lin[1:5], [2, 4, 6, 8])
        assert np.allclose(lin[0], 2.0)  # one-sided → copy next
        assert np.allclose(lin[5:], 8.0)  # one-sided → copy prev
        near = c.fill_time("near").collect_array()[0, :, 0, 0]
        assert np.allclose(near, [2, 2, 2, 8, 8, 8, 8, 8])  # tie at t=3 → prev? dist: prev 2, next 1 → next


class TestJoinBands:
    def test_concat_and_prefix(self, spark):
        v = yearly_view(4, 4)
        g = ChunkGrid(nt=365, ny=4, nx=4, ct=100, cy=4, cx=4)
        c1 = dummy_cube(spark, v, 1, 1.0, chunking=g)
        c2 = dummy_cube(spark, v, 1, 2.0, chunking=g)
        j = c1.join_bands(c2)
        assert j.bands == ["X1.band1", "X2.band1"]
        a = j.collect_array()
        assert np.allclose(a[0], 1.0) and np.allclose(a[1], 2.0)

    def test_mismatched_shapes_rejected(self, spark):
        v1, v2 = yearly_view(4, 4), yearly_view(5, 5)
        c1 = dummy_cube(spark, v1, 1, 1.0)
        c2 = dummy_cube(spark, v2, 1, 1.0)
        with pytest.raises(ValueError):
            c1.join_bands(c2)


class TestStreamOps:
    def test_chunk_apply(self, spark):
        v = yearly_view(4, 4)
        c = dummy_cube(spark, v, 1, 3.0, chunking=ChunkGrid(nt=365, ny=4, nx=4, ct=365, cy=4, cx=4))
        r = c.chunk_apply(lambda t, coords: t * 2, ["doubled"])
        assert np.allclose(r.collect_array(), 6.0)

    @pytest.mark.parametrize("ct", [6, 2])
    def test_apply_time(self, spark, ct):
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-06", dt="P1D", dx=1.0, dy=1.0)
        arr = np.arange(6, dtype="float64").reshape(1, 6, 1, 1) * np.ones((1, 6, 2, 2))
        c = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=6, ny=2, nx=2, ct=ct, cy=2, cx=2))
        r = c.apply_time(lambda s: np.cumsum(s, axis=1), ["csum"])
        a = r.collect_array()
        assert np.allclose(a[0, :, 0, 0], np.cumsum(np.arange(6.0)))

    @pytest.mark.parametrize("op", ["chunk_apply", "apply_time", "reduce_time_udf", "reduce_space_udf"])
    def test_band_count_mismatch_raises(self, spark, op):
        """A user function whose band count disagrees with the declared bands
        (no names= passed) must raise, naming the operator and names=, not
        mislabel bands or fail later with a broadcast error."""
        from gdalcubes_spark.operators.stream import reduce_space_udf, reduce_time_udf
        v = CubeView.create(srs="EPSG:4326", left=0, right=5, bottom=0, top=5,
                            t0="2021-01-01", t1="2021-01-08", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, 2, 1.0, chunking=ChunkGrid(nt=8, ny=5, nx=5, ct=4, cy=5, cx=5))
        build = {
            "chunk_apply": lambda: c.chunk_apply(lambda t, coords: t[:1]),  # 1 band, declares 2
            "apply_time": lambda: c.apply_time(lambda s: s[:1]),  # 1 band, declares 2
            "reduce_time_udf": lambda: reduce_time_udf(c, lambda s: np.nansum(s, axis=1)),  # 2, declares 1
            "reduce_space_udf": lambda: reduce_space_udf(c, lambda p: np.nanmean(p, axis=(1, 2))),  # 2 vs 1
        }[op]
        with pytest.raises(Exception, match=f"{op}: the function returned .* pass names="):
            build().collect_array()

    def test_collect_array_rejects_mislabeled_chunks(self, spark):
        from gdalcubes_spark.cube import Cube
        c = dummy_cube(spark, yearly_view(4, 4), 2, 1.0)
        with pytest.raises(ValueError, match="has shape"):
            Cube(c.df, c.view, ["only_one"], c.chunking).collect_array()

    def test_predict(self, spark):
        class Model:
            def predict(self, X):
                return X[:, 0] * 10 + X[:, 1]
        v = yearly_view(4, 4)
        c = dummy_cube(spark, v, 2, 1.0, chunking=ChunkGrid(nt=365, ny=4, nx=4, ct=365, cy=4, cx=4))
        r = c.predict(Model(), ["score"])
        assert np.allclose(r.collect_array(), 11.0)


class TestAggregateSpaceGolden:
    """Verbatim port of inst/tinytest/test_aggregate_space.R — misaligned
    target grid (extent enlarged symmetrically) + chunking invariance."""

    def _v(self):
        return CubeView.create(srs="EPSG:4326", left=5, right=10, bottom=48, top=53,
                               t0="2021-01-01", t1="2021-12-31", dt="P1M", dx=1.0, dy=1.0)

    def test_sum_misaligned(self, spark):
        c = dummy_cube(spark, self._v(), 1, 1.0)
        x = c.aggregate_space(dx=2, dy=2, method="sum").collect_array()
        want = np.array([[1, 2, 2], [2, 4, 4], [2, 4, 4]], dtype="float64")
        assert x.shape == (1, 12, 3, 3)
        assert np.allclose(x[0, 0], want)
        assert np.allclose(x[0, 11], want)

    def test_count_chunking_invariance(self, spark):
        v = self._v()
        base = dummy_cube(spark, v, 1, 1.0).aggregate_space(dx=2, dy=2, method="sum").collect_array()
        for ck in ((1, 4, 4), (1, 2, 5)):
            g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=ck[0], cy=ck[1], cx=ck[2])
            y = dummy_cube(spark, v, 1, 1.0, chunking=g).aggregate_space(
                dx=2, dy=2, method="count").collect_array()
            assert np.allclose(base, y), ck

    def test_mean_var_multiband(self, spark):
        v = self._v()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=3, cy=4, cx=4)
        c = dummy_cube(spark, v, 3, 2.0, chunking=g)
        z = c.aggregate_space(dx=3, dy=3, method="mean").collect_array()
        assert np.allclose(z, 2.0)
        zv = c.aggregate_space(dx=3, dy=3, method="var").collect_array()
        assert np.allclose(np.nan_to_num(zv, nan=0.0), 0.0)


class TestEmptyInputRobustness:
    """Zero-row edges through the heavy paths (driver edge conditions)."""

    def test_scan_with_zero_images(self, spark):
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(gx=1, gy=1, ntime=1, tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        imgs = generate_images(spark, 1, lay).filter("1 = 0")
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=2, top=4,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=0.25, dy=0.25)
        c = raster_cube(imgs, v, ["B01"], chunking=ChunkGrid(nt=1, ny=8, nx=8, ct=1, cy=8, cx=8))
        assert np.all(np.isnan(c.collect_array()))
        # and the whole operator chain survives an empty cube
        r = c.apply_pixel("b01 * 2", ["x"]).reduce_time("mean(x)")
        assert np.all(np.isnan(r.collect_array()))

    def test_dedup_and_ann_on_empty(self, spark):
        from gdalcubes_spark.pipeline.dedup import exact_dedup, minhash_lsh_pairs
        from gdalcubes_spark.pipeline.similarity import brute_topk
        d = spark.createDataFrame([], "doc_id long, text string")
        assert exact_dedup(d).count() == 0
        assert minhash_lsh_pairs(d).count() == 0
        e = spark.createDataFrame([], "vec_id long, embedding array<float>")
        q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
        assert brute_topk(e, q, k=3).count() == 0

    def test_extract_geom_no_feature_overlap(self, spark):
        from gdalcubes_spark.geom import rect_wkt
        v = CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                            t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, 1, 1.0)
        feats = spark.createDataFrame([(1, rect_wkt(50, 50, 60, 60))], "fid long, wkt string")
        assert c.extract_geom(feats).count() == 0
