"""Round-2 regression tests for the judge/advisor findings:

1. window_time/window_space must compute over halo data even when the core
   chunk was elided as all-NaN (ADVICE high; window_time.cpp:160-251).
2. Labeled-axis views must not leak stale labels into derived views
   (reduce_time / slice_time / crop / aggregate_time) and time_epochs()
   must work on labeled axes (ADVICE medium ×2).
3. hash_near_pairs banding must honor the pigeonhole guarantee at the
   REQUESTED max_hamming (VERDICT wrong #1).
4. jaccard_pairs df_cap="auto" drops hot tokens via a broadcast anti-join.
"""

import numpy as np
import pytest

from gdalcubes_spark.cube import cube_from_array, dummy_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


def _series_view(n):
    return CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                           t0="2021-01-01", t1=f"2021-01-{n:02d}", dt="P1D", dx=1.0, dy=1.0)


class TestElidedCoreHalo:
    def test_window_time_all_nan_core_chunk(self, spark):
        # slices 0-1 all-NaN (chunk elided at ct=2), slices 2-3 = 5.0
        v = _series_view(4)
        arr = np.full((1, 4, 2, 2), np.nan)
        arr[:, 2:] = 5.0
        outs = {}
        for ct in (4, 2):
            c = cube_from_array(spark, arr, v,
                                chunking=ChunkGrid(nt=4, ny=2, nx=2, ct=ct, cy=2, cx=2))
            outs[ct] = c.window_time((1, 1), reducer="mean(band1)").collect_array()
        # slice 1's window = [nan, nan, 5.0] → 5.0, regardless of chunking
        assert np.allclose(outs[4][0, 1], 5.0)
        nan_eq = np.isnan(outs[4]) == np.isnan(outs[2])
        assert nan_eq.all()
        assert np.allclose(np.nan_to_num(outs[4]), np.nan_to_num(outs[2]))

    def test_window_space_all_nan_core_chunk(self, spark):
        # left half all-NaN, right half 7.0; chunked so the left is elided
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=1.0, dy=1.0)
        arr = np.full((1, 1, 4, 4), np.nan)
        arr[..., 2:] = 7.0
        a1 = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=1, ny=4, nx=4, ct=1, cy=4, cx=4)) \
            .window_space(reducer="mean(band1)", window=(3, 3)).collect_array()
        a2 = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=1, ny=4, nx=4, ct=1, cy=4, cx=2)) \
            .window_space(reducer="mean(band1)", window=(3, 3)).collect_array()
        # column x=1 borders the live half: mean of the 7.0 neighbors = 7.0
        assert np.allclose(a1[0, 0, :, 1], 7.0)
        assert (np.isnan(a1) == np.isnan(a2)).all()
        assert np.allclose(np.nan_to_num(a1), np.nan_to_num(a2))


class TestLabeledAxisDerivedViews:
    def _labeled(self, spark):
        v = _series_view(4)
        arr = np.arange(4, dtype="float64").reshape(1, 4, 1, 1) * np.ones((1, 4, 2, 2))
        c = cube_from_array(spark, arr, v,
                            chunking=ChunkGrid(nt=4, ny=2, nx=2, ct=2, cy=2, cx=2))
        return c.select_time(["2021-01-02", "2021-01-04"])  # labels: values 1.0, 3.0

    def test_reduce_time_clears_labels(self, spark):
        r = self._labeled(spark).reduce_time("mean(band1)")
        assert r.view.labels is None
        assert r.view.nt == 1
        a = r.collect_array()
        assert a.shape == (1, 1, 2, 2)
        assert np.allclose(a, 2.0)  # mean(1, 3)

    def test_slice_time_clears_labels(self, spark):
        s = self._labeled(spark).slice_time(it=1)
        assert s.view.labels is None
        assert s.view.nt == 1
        assert np.allclose(s.collect_array(), 3.0)

    def test_crop_slices_labels(self, spark):
        lab = self._labeled(spark)
        r = lab.crop(t0="2021-01-04", t1="2021-01-04")
        assert r.view.labels is not None and len(r.view.labels) == 1
        assert r.view.nt == 1
        assert np.allclose(r.collect_array(), 3.0)

    def test_time_epochs_on_labels(self, spark):
        lab = self._labeled(spark)
        ep = lab.view.time_epochs()
        assert len(ep) == lab.view.nt + 1
        assert ep == sorted(ep)

    def test_extract_geom_on_labeled_axis(self, spark):
        lab = self._labeled(spark)
        feats = spark.createDataFrame([(1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")],
                                      "fid long, wkt string")
        pdf = lab.extract_geom(feats).toPandas()
        # 2 labels × 4 cells, values 1.0 and 3.0
        assert len(pdf) == 8
        assert sorted(set(pdf["band1"])) == [1.0, 3.0]

    def test_apply_pixel_coordvars_on_labeled_axis(self, spark):
        lab = self._labeled(spark)
        a = lab.apply_pixel("t1 - t0", ["w"], keep_bands=False).collect_array()
        assert a.shape == (1, 2, 2, 2)
        assert np.all(a > 0)  # every slice has positive width


class TestHammingBanding:
    def test_adversarial_hamming4_found(self, spark):
        from gdalcubes_spark.pipeline.dedup import hash_near_pairs
        # one flipped bit per OLD 16-bit band: hamming=4, the fixed 4-band
        # scheme would never bucket these together
        base = 0x0123456789ABCDEF
        other = base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)
        sig = spark.createDataFrame([(1, base), (2, other)], "id long, h long")
        got = hash_near_pairs(sig, "id", "h", max_hamming=4).collect()
        assert len(got) == 1 and got[0]["hamming"] == 4

    def test_radius3_still_found_and_excludes_beyond(self, spark):
        from gdalcubes_spark.pipeline.dedup import hash_near_pairs
        base = -42
        h3 = base ^ (1 << 5) ^ (1 << 23) ^ (1 << 60)
        h5 = base ^ 0b11111
        sig = spark.createDataFrame([(1, base), (2, h3), (3, h5)], "id long, h long")
        got = {(r["ida"], r["idb"]): r["hamming"]
               for r in hash_near_pairs(sig, "id", "h", max_hamming=3).collect()}
        assert got[(1, 2)] == 3
        assert (1, 3) not in got  # hamming 5 > radius

    def test_negative_sign_bit_band(self, spark):
        from gdalcubes_spark.pipeline.dedup import hash_near_pairs
        # flip the sign bit (bit 63): shiftrightunsigned banding must treat
        # the signature as unsigned
        base = 7
        other = base ^ (-(1 << 63))
        sig = spark.createDataFrame([(1, base), (2, other)], "id long, h long")
        got = hash_near_pairs(sig, "id", "h", max_hamming=1).collect()
        assert len(got) == 1 and got[0]["hamming"] == 1


class TestBruteTopkBatched:
    def test_multibatch_equals_single(self, spark):
        from gdalcubes_spark.pipeline.similarity import brute_topk
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id % 50 = 0")
        nq = q.count()
        assert nq > 3
        single = brute_topk(emb, q, k=5).toPandas().sort_values(
            ["query_id", "neighbor_id"]).reset_index(drop=True)
        multi = brute_topk(emb, q, k=5, batch_queries=max(2, nq // 3)).toPandas().sort_values(
            ["query_id", "neighbor_id"]).reset_index(drop=True)
        assert single.equals(multi)


class TestWinnowPlan:
    def test_zero_python_zero_shuffle(self, spark):
        from gdalcubes_spark.pipeline.text import rolling_fingerprints
        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = rolling_fingerprints(d)._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan  # per-row top-k: no shuffle at all


class TestCropIndices:
    def test_matches_coordinate_crop(self, spark):
        v = CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                            t0="2021-01-01", t1="2021-01-06", dt="P1D", dx=1.0, dy=1.0)
        arr = np.arange(6 * 100, dtype="float64").reshape(1, 6, 10, 10)
        c = cube_from_array(spark, arr, v, chunking=ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=4, cx=4))
        a = c.crop(left=2, right=7, bottom=3, top=8, t0="2021-01-02", t1="2021-01-05").collect_array()
        b = c.crop_indices(ix0=2, ix1=7, iy0=2, iy1=7, it0=1, it1=5).collect_array()
        assert a.shape == b.shape == (1, 4, 5, 5)
        assert np.allclose(np.nan_to_num(a, nan=-1), np.nan_to_num(b, nan=-1))


class TestCreateOverviews:
    def test_block_mean_pyramid(self, spark):
        from gdalcubes_spark.pipeline.multimodal import create_overviews
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(gx=1, gy=1, ntime=1, tile_w=16, tile_h=16, nb=1, fmts=("raw",))
        imgs = generate_images(spark, 1, lay)
        src = imgs.select("image_id", "bytes", "fmt").first()
        from gdalcubes_spark import codecs
        a = codecs.decode(bytes(src["bytes"]), src["fmt"]).astype("float64")
        ov = {r["level"]: r for r in create_overviews(imgs, levels=(2, 4)).collect()}
        assert set(ov) == {2, 4}
        for lv, r in ov.items():
            got = codecs.decode(bytes(r["bytes"]), r["fmt"]).astype("float64")
            want = a.reshape(1, 16 // lv, lv, 16 // lv, lv).mean(axis=(2, 4))
            assert got.shape == (1, 16 // lv, 16 // lv)
            assert np.allclose(got, np.clip(np.rint(want), 0, 255))


class TestTinyexprParity:
    def test_fac_ncr_npr(self, spark):
        # the last three tinyexpr builtins (te factorial family)
        v = _series_view(1)
        c = dummy_cube(spark, v, 1, 4.0, chunking=ChunkGrid(nt=1, ny=2, nx=2, ct=1, cy=2, cx=2))
        a = c.apply_pixel("fac(band1) + ncr(band1, 2) + npr(band1, 2)", ["f"],
                          keep_bands=False).collect_array()
        assert np.allclose(a, 24.0 + 6.0 + 12.0)


class TestJaccardAutoCap:
    def test_hot_token_dropped(self, spark):
        from gdalcubes_spark.pipeline.dedup import jaccard_pairs
        # every doc shares "the"; only docs 1/2 share real content
        docs = [(1, "the alpha beta gamma"), (2, "the alpha beta delta")]
        docs += [(i, f"the w{i}a w{i}b w{i}c") for i in range(3, 40)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = jaccard_pairs(df, threshold=0.4, df_cap="auto").collect()
        pairs = {(r["ida"], r["idb"]): r["jaccard"] for r in got}
        # capped universe: {alpha beta gamma} vs {alpha beta delta} → 2/4
        assert pairs == {(1, 2): 0.5}
