"""Chunking invariance of the halo, gather and aggregate operators: the
result of an operator must not depend on the chunk grid. Every grid here has edge chunks
narrower than the window's halo (or the extracted feature), the case a
per-chunk view of the cube edge gets wrong. Kernels compare to 1e-12: einsum's summation order follows the
chunk shape. window_space is also checked against np.pad (gdalcubes pads the
window read against the cube, window_space.cpp:219-300)."""

import datetime as dt

import numpy as np
import pytest

from gdalcubes_spark.cube import Cube, cube_from_array
from gdalcubes_spark.geom import rect_wkt
from gdalcubes_spark.operators.extract_geom import extract_geom, zonal_stats
from gdalcubes_spark.grid import ChunkGrid, CubeView

# gdalcubes pad mode → np.pad mode ("none" is NaN beyond the cube edge)
NP_PAD = {"none": "constant", "constant": "constant", "replicate": "edge",
          "reflect": "symmetric", "reflect_pixel": "reflect"}
PAD_VALUE = 0.5


def _view(nt, ny, nx):
    return CubeView.create(srs="EPSG:4326", left=0, right=nx, bottom=0, top=ny,
                           t0="2021-01-01", t1=f"2021-01-{nt:02d}", dt="P1D", dx=1.0, dy=1.0)


def _run(spark, arr, grid, op):
    """op on arr chunked as (ct, cy, cx), collected to (nb, nt, ny, nx)."""
    _, nt, ny, nx = arr.shape
    g = ChunkGrid(nt=nt, ny=ny, nx=nx, ct=grid[0], cy=grid[1], cx=grid[2])
    return op(cube_from_array(spark, arr, _view(nt, ny, nx), chunking=g)).collect_array()


def _window_space_ref(arr, wy, wx, pad, reduce):
    hy, hx = wy // 2, wx // 2
    kw = {"constant_values": np.nan if pad == "none" else PAD_VALUE} if NP_PAD[pad] == "constant" else {}
    p = np.pad(arr, ((0, 0), (0, 0), (hy, hy), (hx, hx)), mode=NP_PAD[pad], **kw)
    sw = np.lib.stride_tricks.sliding_window_view(p, (wy, wx), axis=(2, 3))
    return reduce(sw)


# 2×9×7: (ct, cy, cx) grids whose last y and/or x chunk (1 cell) is
# narrower than a 2-cell halo
WS_GRIDS = [(1, 3, 3), (1, 2, 3), (1, 9, 2)]


@pytest.mark.parametrize("window", [(3, 3), (3, 5), (5, 5)], ids=["3x3", "3x5", "5x5"])
@pytest.mark.parametrize("pad", list(NP_PAD))
def test_window_space_chunking_invariant(spark, pad, window):
    wy, wx = window
    arr = np.random.default_rng(7).random((1, 2, 9, 7))
    kernel = np.random.default_rng(8).random(window)
    ops = {
        "reducer": (lambda c: c.window_space(reducer="mean(band1)", window=window, pad=pad,
                                             pad_value=PAD_VALUE),
                    lambda sw: np.nanmean(sw, axis=(-2, -1))),
        "kernel": (lambda c: c.window_space(kernel=kernel, pad=pad, pad_value=PAD_VALUE),
                   lambda sw: np.einsum("btyxuv,uv->btyx", sw, kernel)),
    }
    for name, (op, reduce) in ops.items():
        single = _run(spark, arr, (2, 9, 7), op)
        np.testing.assert_allclose(single, _window_space_ref(arr, wy, wx, pad, reduce), rtol=1e-12,
                                   err_msg=name)
        for grid in WS_GRIDS:
            np.testing.assert_allclose(_run(spark, arr, grid, op), single, rtol=1e-12, err_msg=f"{name} {grid}")


@pytest.mark.parametrize("how", ["reducer", "kernel"])
def test_window_time_halo_wider_than_chunk(spark, how):
    """l and r both exceed ct: a chunk's window reaches past its neighbor."""
    arr = np.random.default_rng(9).random((1, 7, 3, 2))
    l, r = 3, 2
    if how == "reducer":
        def op(c):
            return c.window_time((l, r), reducer="sum(band1)")

        def reduce(sw):
            return np.nansum(sw, axis=-1)
    else:
        kernel = np.random.default_rng(10).random(l + 1 + r)

        def op(c):
            return c.window_time((l, r), kernel=kernel)

        def reduce(sw):
            return sw @ kernel
    p = np.pad(arr, ((0, 0), (l, r), (0, 0), (0, 0)), constant_values=np.nan)
    ref = reduce(np.lib.stride_tricks.sliding_window_view(p, l + 1 + r, axis=1))
    single = _run(spark, arr, (7, 3, 2), op)
    np.testing.assert_allclose(single, ref, rtol=1e-12)
    for grid in [(1, 3, 2), (2, 2, 1)]:
        np.testing.assert_allclose(_run(spark, arr, grid, op), single, rtol=1e-12, err_msg=str(grid))


@pytest.mark.parametrize("method", ["near", "linear", "locf", "nocb"])
def test_fill_time_gaps_across_chunks(spark, method):
    """NaN runs that span whole chunks (and both cube ends) fill the same
    whatever the time chunking."""
    arr = np.random.default_rng(11).random((1, 9, 2, 2))
    arr[:, 0] = np.nan            # leading gap
    arr[:, 2:7, 0, :] = np.nan    # 5-step gap across 2-3 chunks
    arr[:, 3:9, 1, 1] = np.nan    # trailing gap
    single = _run(spark, arr, (9, 2, 2), lambda c: c.fill_time(method))
    assert np.isnan(single).sum() < np.isnan(arr).sum()
    for grid in [(2, 2, 2), (3, 1, 2), (1, 2, 1)]:
        np.testing.assert_array_equal(_run(spark, arr, grid, lambda c: c.fill_time(method)), single,
                                      err_msg=str(grid))


# extract_geom / zonal_stats on a 2×4×9×7 cube (band2 NaN on a third of the
# cells, so the bands' NaN masks differ) over grids whose last t, y and/or x
# chunk is one slice or cell wide, narrower than every polygon below
EG_GRIDS = [(1, 2, 3), (3, 4, 2), (2, 9, 2)]
EG_FEATURES = [
    (1, rect_wkt(0.5, 0.5, 6.5, 8.5)),                     # nearly the whole cube
    (2, rect_wkt(1.2, 2.7, 4.8, 6.1)),                     # crosses several chunk edges
    (3, "POLYGON ((0 0, 7 0, 0 9, 0 0))"),                  # triangle
    (4, "MULTIPOLYGON (((4 4, 7 4, 7 9, 4 9, 4 4), (5 6, 6 6, 6 7, 5 7, 5 6)),"
        " ((-1 -1, 2 -1, 2 2, -1 2, -1 -1)))"),            # hole; part outside the view
    (5, "POINT (6.5 0.5)"),                                 # in the one-cell corner chunk
]
EG_TIMED = [
    (6, "POINT (3.5 4.5)", dt.datetime(2021, 1, 3)),
    (7, "POINT (6.5 8.5)", dt.datetime(2021, 1, 4, 12)),   # last slice, mid-day
    (8, rect_wkt(1.5, 1.5, 6.5, 5.5), dt.datetime(2021, 1, 2)),
    (9, "POINT (3.5 4.5)", dt.datetime(2020, 12, 31)),     # before the time axis
]
_COMBINABLE = ["mean", "count", "min", "max", "sum"]
EG_OPS = {
    "rows": lambda s, c: extract_geom(c, s.createDataFrame(EG_FEATURES, "fid long, wkt string")),
    "timed_rows": lambda s, c: extract_geom(
        c, s.createDataFrame(EG_TIMED, "fid long, wkt string, t timestamp"), time_column="t"),
    "partials_by_time": lambda s, c: zonal_stats(
        c, s.createDataFrame(EG_FEATURES, "fid long, wkt string"), _COMBINABLE, by_time=True),
    "partials": lambda s, c: zonal_stats(
        c, s.createDataFrame(EG_FEATURES, "fid long, wkt string"), _COMBINABLE, by_time=False),
    "long_form_by_time": lambda s, c: zonal_stats(
        c, s.createDataFrame(EG_FEATURES, "fid long, wkt string"), ["median", "var"], by_time=True),
    "long_form_timed": lambda s, c: zonal_stats(
        c, s.createDataFrame(EG_TIMED, "fid long, wkt string, t timestamp"), ["median", "var", "count"],
        by_time=False, time_column="t"),
}


def _eg_rows(spark, arr, grid, op):
    _, nt, ny, nx = arr.shape
    g = ChunkGrid(nt=nt, ny=ny, nx=nx, ct=grid[0], cy=grid[1], cx=grid[2])
    df = op(spark, cube_from_array(spark, arr, _view(nt, ny, nx), chunking=g))
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple(float("-inf") if v is None else v for v in r))


@pytest.mark.parametrize("name", list(EG_OPS))
def test_extract_geom_chunking_invariant(spark, name):
    """Sorted rows equal the single-chunk grid's: exactly for extracted
    values, counts, min/max and medians; sums, means and variances to 1e-12,
    since their summation order follows the chunking."""
    rng = np.random.default_rng(12)
    arr = rng.random((2, 4, 9, 7))
    arr[1][rng.random((4, 9, 7)) < 1 / 3] = np.nan
    single = _eg_rows(spark, arr, (4, 9, 7), EG_OPS[name])
    assert single
    for grid in EG_GRIDS:
        got = _eg_rows(spark, arr, grid, EG_OPS[name])
        assert len(got) == len(single), grid
        for a, b in zip(got, single):
            assert a == pytest.approx(b, rel=1e-12, nan_ok=True), grid


# reduce_*, aggregate_* and window_time median on a 2×6×5×4 cube with NaN
# holes in both bands. The grids mix nct = 1 and nct > 1, and edge chunks one
# slice or one cell wide. No input chunk is entirely NaN on any grid: an
# elided chunk reads as NaN where the single-chunk grid has 0 (count, sum),
# the gdalcubes empty-chunk rule, which these cases do not decide.
RA_GRIDS = [(6, 2, 3), (2, 3, 4), (4, 5, 1)]
_RT = ["median", "var", "which_max", "sum", "count"]
_RS = ["median", "mean", "count"]
RA_CASES = {
    "reduce_time_gather": (lambda c: c.reduce_time(*[f"{r}(band{i % 2 + 1})" for i, r in enumerate(_RT)]), _RT),
    "reduce_time_partial": (lambda c: c.reduce_time(*[f"{r}(band1)" for r in _RT[1:]]), _RT[1:]),
    "reduce_space_gather": (lambda c: c.reduce_space(*[f"{r}(band2)" for r in _RS]), _RS),
    "reduce_space_partial": (lambda c: c.reduce_space(*[f"{r}(band1)" for r in _RS[1:]]), _RS[1:]),
    **{f"aggregate_time_{m}": (lambda c, m=m: c.aggregate_time(fact=3, method=m), [m, m])
       for m in ("median", "var", "count", "sum")},
    **{f"aggregate_space_{m}": (lambda c, m=m: c.aggregate_space(fact=2, method=m), [m, m])
       for m in ("median", "sd", "prod")},
    "window_time_median": (lambda c: c.window_time((2, 1), reducer="median(band1)"), ["median"]),
}
_EXACT = {"min", "max", "median", "count", "which_min", "which_max"}


@pytest.mark.parametrize("name", list(RA_CASES))
def test_reduce_aggregate_chunking_invariant(spark, name):
    """Each output band equals the single-chunk grid's: exactly for order
    statistics and counts, to 1e-12 for sums, products, means and variances
    (the order in which a cell's values are combined follows the chunking)."""
    rng = np.random.default_rng(13)
    arr = rng.random((2, 6, 5, 4)) + 0.5
    arr[rng.random(arr.shape) < 0.2] = np.nan
    op, reducers = RA_CASES[name]
    for grid in RA_GRIDS:
        g = ChunkGrid(nt=6, ny=5, nx=4, ct=grid[0], cy=grid[1], cx=grid[2])
        for cid in range(g.n_chunks):
            (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*g.chunk_coords(cid))
            assert not np.all(np.isnan(arr[:, t0:t1, y0:y1, x0:x1])), (grid, cid)
    single = _run(spark, arr, (6, 5, 4), op)
    assert not np.all(np.isnan(single))
    for grid in RA_GRIDS:
        got = _run(spark, arr, grid, op)
        for b, r in enumerate(reducers):
            if r in _EXACT:
                np.testing.assert_array_equal(got[b], single[b], err_msg=f"{r} {grid}")
            else:
                np.testing.assert_allclose(got[b], single[b], rtol=1e-12, err_msg=f"{r} {grid}")


def test_from_cells_chunking_invariant(spark):
    """cells() → from_cells rebuilds a 2×3×5×4 cube with NaN holes on grids
    with one-slice and one-cell edge chunks as on the single-chunk grid."""
    rng = np.random.default_rng(14)
    arr = rng.random((2, 3, 5, 4))
    arr[rng.random(arr.shape) < 0.3] = np.nan

    def op(c):
        return Cube.from_cells(c.cells(), c.view, c.bands, c.chunking)
    single = _run(spark, arr, (3, 5, 4), op)
    np.testing.assert_array_equal(single, arr)
    for grid in [(2, 2, 3), (1, 5, 1)]:
        np.testing.assert_array_equal(_run(spark, arr, grid, op), single, err_msg=str(grid))
