"""Property-based tests (hypothesis) over the pure kernels — the fuzzing
layer of the test strategy (SURVEY §5): axis arithmetic, gap-fill, the
reducer kernels (segmented reductions, the scan's median finalize, the
sort-gather median). No Spark session — every example runs in microseconds.
"""

from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gdalcubes_spark import reducers
from gdalcubes_spark.grid import CubeView, Datetime, Duration, Unit
from gdalcubes_spark.operators.window import _fill_series
from gdalcubes_spark.reducers import full_reduce, segment_reduce
from gdalcubes_spark.sources.raster_cube import _AggState

UNITS = [("P1D", "2021-01-%02d"), ("P1M", None), ("PT1H", None)]


class TestAxisProperties:
    @given(nt=st.integers(1, 200), n=st.integers(1, 7))
    @settings(max_examples=60, deadline=None)
    def test_index_datetime_roundtrip_days(self, nt, n):
        v = CubeView.create(srs="EPSG:4326", left=0, right=1, bottom=0, top=1,
                            t0="2021-01-01", t1="2021-12-31", dt=f"P{n}D", dx=1.0, dy=1.0)
        for it in (0, min(nt, v.nt - 1), v.nt - 1):
            assert v.index_at_datetime(v.datetime_at_index(it)) == it

    @given(months=st.integers(0, 47), n=st.integers(1, 5))
    @settings(max_examples=60, deadline=None)
    def test_month_arith_consistency(self, months, n):
        d = Datetime.parse("2020-01")
        d2 = d.add(Duration(months, Unit.MONTH))
        assert (d2 - d).n == months
        v = CubeView.create(srs="EPSG:4326", left=0, right=1, bottom=0, top=1,
                            t0="2020-01", t1="2023-12", dt=f"P{n}M", dx=1.0, dy=1.0)
        # axis covers the requested interval completely
        assert (v.t0 - Datetime.parse("2020-01")).n <= 0
        last = v.datetime_at_index(v.nt - 1)
        assert (Datetime.parse("2023-12") - last).n < n

    @given(nt=st.integers(1, 100))
    @settings(max_examples=40, deadline=None)
    def test_nt_from_n_matches_request(self, nt):
        v = CubeView.create(srs="EPSG:4326", left=0, right=1, bottom=0, top=1,
                            t0="2021-01-01", t1="2021-12-31", nt=nt, dx=1.0, dy=1.0)
        assert v.nt == nt  # set_t_axis_n must deliver exactly nt slices


class TestFillSeriesProperties:
    @given(st.lists(st.one_of(st.none(), st.floats(-1e6, 1e6)), min_size=1, max_size=40))
    @settings(max_examples=120, deadline=None)
    def test_against_pandas(self, vals):
        v = np.array([np.nan if x is None else x for x in vals]).reshape(-1, 1)
        s = pd.Series(v[:, 0])
        locf = _fill_series(v, "locf")[:, 0]
        nocb = _fill_series(v, "nocb")[:, 0]
        lin = _fill_series(v, "linear")[:, 0]
        assert np.allclose(np.nan_to_num(locf, nan=-9e9), np.nan_to_num(s.ffill(), nan=-9e9))
        assert np.allclose(np.nan_to_num(nocb, nan=-9e9), np.nan_to_num(s.bfill(), nan=-9e9))
        # linear: interior matches pandas interpolate; one-sided copies edge
        pl = s.interpolate(method="linear", limit_direction="both")
        assert np.allclose(np.nan_to_num(lin, nan=-9e9), np.nan_to_num(pl, nan=-9e9), atol=1e-9)

    @given(st.lists(st.one_of(st.none(), st.floats(-100, 100)), min_size=1, max_size=30))
    @settings(max_examples=60, deadline=None)
    def test_near_tie_prefers_previous(self, vals):
        v = np.array([np.nan if x is None else x for x in vals]).reshape(-1, 1)
        out = _fill_series(v, "near")[:, 0]
        valid_idx = np.nonzero(~np.isnan(v[:, 0]))[0]
        for i in range(len(v)):
            if np.isnan(v[i, 0]):
                if len(valid_idx) == 0:
                    assert np.isnan(out[i])
                    continue
                d = np.abs(valid_idx - i)
                best = d.min()
                cands = valid_idx[d == best]
                pick = cands.min()  # tie → previous (fill_time.cpp near rule)
                assert out[i] == v[pick, 0]
            else:
                assert out[i] == v[i, 0]


# aggregate_* reducer → pandas groupby function
PANDAS_AGG = {"mean": "mean", "min": "min", "max": "max", "median": "median", "count": "count",
              "var": "var", "sd": "std", "prod": "prod", "sum": "sum"}


class TestSegmentedReduceProperties:
    @given(st.lists(st.tuples(st.integers(0, 9),
                              st.one_of(st.none(), st.floats(-1e3, 1e3))),
                    min_size=0, max_size=200),
           st.sampled_from(["Q1", "Q3", "mode", *PANDAS_AGG]))
    @settings(max_examples=300, deadline=None)
    def test_against_numpy_groupby(self, pairs, method):
        ids = np.array([p[0] for p in pairs], dtype="int64")
        vals = np.array([np.nan if p[1] is None else p[1] for p in pairs])
        got = segment_reduce(method, ids, vals, 10)
        if method in PANDAS_AGG:
            # pandas over the ids present: an all-NaN group gives sum 0,
            # count 0, prod 1 and NaN otherwise; an absent id stays NaN
            want = np.full(10, np.nan)
            s = pd.Series(vals).groupby(pd.Series(ids)).agg(PANDAS_AGG[method])
            want[s.index.to_numpy()] = s.to_numpy(dtype="float64")
            np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9, err_msg=f"{method} {pairs}")
            if method == "median":
                with mock.patch.object(reducers, "MEDIAN_DENSE_BYTES", 0):  # forces the lexsort
                    lex = segment_reduce(method, ids, vals, 10)
                assert np.array_equal(lex.view(np.uint64), got.view(np.uint64)), (pairs, lex, got)
            return
        for cell in range(10):
            grp = vals[(ids == cell) & ~np.isnan(vals)]
            if len(grp) == 0:
                assert np.isnan(got[cell])
                continue
            if method in ("Q1", "Q3"):
                want = np.percentile(grp, 25 if method == "Q1" else 75)
            else:  # mode: most frequent, ties → smallest
                uq, cn = np.unique(grp, return_counts=True)
                want = uq[cn == cn.max()].min()
            assert np.isclose(got[cell], want), (cell, method, grp, got[cell], want)


def _pair_sort_reference(items, shape):
    """The pre-r6 sparse formulation, kept as the oracle."""
    nb, nt, ny, nx = shape
    acc = np.full(shape, np.nan)
    plane = ny * nx
    for lt in range(nt):
        idx_parts, val_parts = [], []
        for vals, y0, x0 in items.get(lt, []):
            ok = ~np.isnan(vals)
            if not ok.any():
                continue
            b, yy, xx = np.nonzero(ok)
            idx_parts.append(b * plane + (yy + y0) * nx + (xx + x0))
            val_parts.append(vals[ok])
        if not idx_parts:
            continue
        idx = np.concatenate(idx_parts)
        val = np.concatenate(val_parts)
        order = np.lexsort((val, idx))
        idx, val = idx[order], val[order]
        starts = np.nonzero(np.diff(idx, prepend=-1))[0]
        counts = np.diff(np.append(starts, len(idx)))
        lo = starts + (counts - 1) // 2
        hi = starts + counts // 2
        med = (val[lo] + val[hi]) / 2.0
        b, yy, xx = np.unravel_index(idx[starts], (nb, ny, nx))
        acc[b, lt, yy, xx] = med
    return acc


def _has_data(items, shape):
    """(nb, nt, ny, nx) mask of cells at least one item has a value for."""
    has = np.zeros(shape, bool)
    for lt, its in items.items():
        for vals, y0, x0 in its:
            hy, wx = vals.shape[1], vals.shape[2]
            has[:, lt, y0:y0 + hy, x0:x0 + wx] |= ~np.isnan(vals)
    return has


def _random_items(rng, nb, ny, nx, k, nan_frac):
    items = []
    for _ in range(k):
        hy = rng.integers(1, ny + 1)
        wx = rng.integers(1, nx + 1)
        y0 = rng.integers(0, ny - hy + 1)
        x0 = rng.integers(0, nx - wx + 1)
        vals = rng.random((nb, hy, wx))
        vals[rng.random((nb, hy, wx)) < nan_frac] = np.nan
        items.append((vals, int(y0), int(x0)))
    return items


@pytest.mark.parametrize("k,nan_frac", [(1, 0.0), (7, 0.3), (40, 0.05), (3, 1.0)])
def test_median_finalize_dense_equals_pair_sort(k, nan_frac):
    rng = np.random.default_rng(k * 1000 + int(nan_frac * 10))
    nb, nt, ny, nx = 2, 2, 17, 13
    st = _AggState("median", (nb, nt, ny, nx))
    ref_items = {}
    for lt in range(nt):
        its = _random_items(rng, nb, ny, nx, k, nan_frac)
        ref_items[lt] = [(v.copy(), y, x) for v, y, x in its]
        for v, y, x in its:
            st.update(v, lt, y, x)
    dense = st.finalize()
    ref = _pair_sort_reference(ref_items, (nb, nt, ny, nx))
    assert np.array_equal(dense.view(np.uint64), ref.view(np.uint64)), \
        "dense median finalize diverged from the pair-sort reference"
    assert not np.isnan(dense[_has_data(ref_items, dense.shape)]).any(), \
        "a cell with input data has no median"


@pytest.mark.parametrize("nb,nt", [(1, 1), (2, 2)])
def test_median_finalize_sparse_fallback_identical(nb, nt, monkeypatch):
    """Force the sparse fallback (budget=0) and compare against dense."""
    rng = np.random.default_rng(7)
    ny, nx = 9, 9
    items = {lt: _random_items(rng, nb, ny, nx, 11, 0.2) for lt in range(nt)}

    def run(budget):
        monkeypatch.setattr(reducers, "MEDIAN_DENSE_BYTES", budget)
        st = _AggState("median", (nb, nt, ny, nx))
        for lt, its in items.items():
            for v, y, x in its:
                st.update(v.copy(), lt, y, x)
        return st.finalize()

    dense = run(1 << 40)
    sparse = run(0)
    assert np.array_equal(dense.view(np.uint64), sparse.view(np.uint64))
    assert not np.isnan(sparse[_has_data(items, sparse.shape)]).any(), \
        "a cell with input data has no median"


def test_reduce_median_sort_gather_equals_nanmedian():
    rng = np.random.default_rng(3)
    v = rng.random((9, 2, 11, 5))
    v[rng.random(v.shape) < 0.25] = np.nan
    v[:, 0, 0, 0] = np.nan  # an all-NaN cell
    got = full_reduce("median", v)
    allnan = np.all(np.isnan(v), axis=0)
    ref = np.where(allnan, np.nan,
                   np.nanmedian(np.where(allnan[None, ...], 0.0, v), axis=0))
    assert np.array_equal(got.view(np.uint64), ref.view(np.uint64))


class TestTiffProperties:
    @settings(max_examples=40, deadline=None)
    @given(
        nb=st.integers(1, 4),
        h=st.integers(1, 90),
        w=st.integers(1, 90),
        dtype=st.sampled_from(["uint8", "uint16", "int16", "int32", "float32", "float64"]),
        tile=st.sampled_from([16, 32, 48]),
        compress=st.sampled_from(["none", "deflate"]),
        big=st.booleans(),
        pred=st.sampled_from([None, 1, 2, 3]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_roundtrip_any_shape(self, nb, h, w, dtype, tile, compress, big, pred, seed):
        from gdalcubes_spark import tiffcodec as tc
        rng = np.random.default_rng(seed)
        a = (rng.random((nb, h, w)) * 1000 - 200).astype(dtype)
        isf = np.issubdtype(a.dtype, np.floating)
        if (pred == 2 and isf) or (pred == 3 and not isf):
            pred = None  # invalid combos are rejected (tested elsewhere)
        b = tc.encode_geotiff(a, tile=tile, compress=compress, bigtiff=big, predictor=pred)
        out, meta = tc.decode_geotiff(b)
        assert out.dtype == a.dtype and np.array_equal(out, a)
        rep = tc.cog_layout_report(b)
        assert rep["ifds_before_data"] and rep["overview_tiles_first"]
        assert meta["levels"] == tc.peek_levels(b)

    @settings(max_examples=30, deadline=None)
    @given(h=st.integers(2, 64), w=st.integers(2, 64), nodata=st.sampled_from([-9999.0, 0.0]),
           seed=st.integers(0, 2**31 - 1))
    def test_overview_mean_bounds(self, h, w, nodata, seed):
        # overview values always lie within [min, max] of the valid data
        from gdalcubes_spark import tiffcodec as tc
        rng = np.random.default_rng(seed)
        a = rng.uniform(-100, 100, (1, h, w))
        b = tc.encode_geotiff(a, tile=16, nodata=nodata)
        _, meta = tc.decode_geotiff(b)
        for lv in range(1, len(meta["levels"])):
            ov, _ = tc.decode_geotiff(b, level=lv)
            valid = ov[ov != nodata] if not np.isnan(nodata) else ov[~np.isnan(ov)]
            if valid.size:
                assert valid.min() >= a.min() - 1e-9 and valid.max() <= a.max() + 1e-9


class TestCellIndexProperties:
    @settings(max_examples=60, deadline=None)
    @given(lon=st.floats(-179.99, 179.99), lat=st.floats(-89.99, 89.99),
           fine=st.integers(1, 30))
    def test_parent_consistency(self, lon, lat, fine):
        from gdalcubes_spark.pipeline import cellindex as ci
        coarse = max(0, fine - 7)
        f = ci.cell_id(lon, lat, fine)
        assert ci.parent(f, coarse)[0] == ci.cell_id(lon, lat, coarse)[0]
        assert ci.level_of(f)[0] == fine

    @settings(max_examples=40, deadline=None)
    @given(lon=st.floats(-179.99, 179.99), lat=st.floats(-89.99, 89.99),
           level=st.integers(0, 28))
    def test_center_stays_in_cell(self, lon, lat, level):
        from gdalcubes_spark.pipeline import cellindex as ci
        ids = ci.cell_id(lon, lat, level)
        clon, clat = ci.cell_center(ids)
        assert ci.cell_id(clon, clat, level)[0] == ids[0]
