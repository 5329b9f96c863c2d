"""Narrow-op fusion: chained map_chunks ops run as ONE mapInArrow.

Each narrow operator (apply_pixel, filter_pixel, rename/select via
map_chunks, nct==1 reduce/window/fill, apply_time, predict) used to add its
own Python map node — one JVM↔Python Arrow round-trip plus a tensor
pack/unpack per operator per chunk. Cube.map_chunks now composes onto the
previous chain (cube.py), the Python-side analogue of whole-stage codegen.

These tests pin (a) the plan shape — exactly one Python node for an
arbitrarily long narrow chain — and (b) value equality with the unfused
execution (forced by breaking the chain through a shuffle-ish boundary).
On a raster_cube the chain runs inside the scan's own build UDF, or inside
the first UDF of a wide consumer that reads through chunk_stream.
"""

import re

import numpy as np
import pytest

from gdalcubes_spark.cube import Cube, dummy_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


def _view():
    return CubeView.create(srs="EPSG:4326", left=0, right=8, top=8, bottom=0,
                           dx=1.0, dy=1.0, t0="2020-01-01", t1="2020-04-30", dt="P1M")


def _py_nodes(df):
    """Python map nodes of the executed plan: chunk UDFs are MapInArrow,
    vectorized column UDFs ArrowEvalPython."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInArrow") + plan.count("ArrowEvalPython")


class TestFusion:
    def test_chain_is_one_python_node(self, spark):
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=v.nt, cy=4, cx=4)
        c = dummy_cube(spark, v, band_names=["b"], fill=2.0, chunking=g)
        r = (c.apply_pixel("b*3", names=["x"], keep_bands=True)
              .filter_pixel("x > 1")
              .apply_pixel("x - b", names=["y"])
              .reduce_time("mean(y)"))
        # 1 source generator (dummy_cube) + 1 fused chain of 4 narrow ops
        assert _py_nodes(r.df) == 2
        a = r.collect_array()
        assert a.shape == (1, 1, 8, 8)
        assert np.allclose(a, 4.0)  # x=6, y=6-2=4, mean over 4 months

    def test_fused_matches_unfused(self, spark):
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=v.nt, cy=4, cx=4)
        c = dummy_cube(spark, v, band_names=["b"], fill=5.0, chunking=g)
        fused = c.apply_pixel("b*b + ix", names=["q"]).filter_pixel("q % 2 == 0")
        # break fusion: round-trip through long form rebuilds the chunk df,
        # so each op runs as its own UDF stage
        half = c.apply_pixel("b*b + ix", names=["q"])
        unfused = Cube.from_cells(half.cells(), half.view, half.bands, half.chunking) \
            .filter_pixel("q % 2 == 0")
        a, b = fused.collect_array(), unfused.collect_array()
        assert a.shape == b.shape
        assert np.allclose(a, b, equal_nan=True)

    def test_intermediate_cube_stays_valid(self, spark):
        """Fusion must not mutate the intermediate: materializing the middle
        cube after deriving a longer chain returns the middle result."""
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.0)
        mid = c.apply_pixel("b + 1", names=["m"])
        _ = mid.apply_pixel("m * 10", names=["z"])  # extends the chain
        a = mid.collect_array()
        assert np.allclose(a, 2.0)

    def test_chain_fuses_into_wide_op_partial(self, spark):
        """A pending narrow chain composes into the PRE-SHUFFLE UDF of wide
        ops (reduce partial, window halo emit, aggregate cut, cells) — the
        standalone chain node disappears. nct>1 + combinable reducer forces
        the partial/merge path: dummy source + fused partial + merge = 3
        Python nodes (was 4 with a separate apply_pixel node)."""
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4)  # nct=4
        c = dummy_cube(spark, v, band_names=["b"], fill=2.0, chunking=g)
        r = c.apply_pixel("b*3", names=["x"]).reduce_time("mean(x)")
        plan = r.df._jdf.queryExecution().executedPlan().toString()
        assert _py_nodes(r.df) + plan.count("FlatMapGroupsInArrow") == 3
        a = r.collect_array()
        assert a.shape == (1, 1, 8, 8)
        assert np.allclose(a, 6.0)

    def test_chain_fuses_into_cells(self, spark):
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.5)
        cells = c.apply_pixel("b*4", names=["y"]).cells()
        assert _py_nodes(cells) == 2  # dummy source + fused cells gen
        row = cells.limit(1).collect()[0]
        assert row["value"] == 6.0 and row["band"] == "y"

    def test_all_nan_intermediate_elides(self, spark):
        """A fn producing all-NaN mid-chain drops the chunk exactly like the
        unfused plan (missing chunk ≡ all-NaN invariant)."""
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.0)
        r = c.filter_pixel("b > 99").apply_pixel("b * 0 + 7", names=["s"])
        assert r.df.count() == 0  # chunks elided before the second fn
        a = r.collect_array()
        assert np.all(np.isnan(a))


# ------------------------------------------------------------ scan fusion

FMG, EX, MAP = "FlatMapGroupsInArrow", "Exchange", "MapInArrow"
# the scan's own nodes, outermost first: the unsalted build, or the salted
# merge over its partials
SCAN_NODES = {0: [FMG, EX], 2: [FMG, EX, FMG, EX]}


def _plan_nodes(df):
    """The executed plan's Arrow UDF and Exchange nodes, outermost first."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\b(FlatMapGroupsInArrow|MapInArrow|Exchange)\b", plan)


def _scan(spark, ntime, agg, salt):
    from gdalcubes_spark.sources.raster_cube import raster_cube
    from gdalcubes_spark.synth import ImageLayout, band_names, generate_images

    lay = ImageLayout(left0=0.0, top0=2.0, tile_dx=1.0, tile_dy=1.0, gx=2, gy=2,
                      ntime=ntime, dt_days=31, tile_w=16, tile_h=16, nb=2,
                      fmts=("png", "raw"), hot_every=5, overlap=0.2)
    imgs = generate_images(spark, 8 * ntime, lay)
    v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                        t0="2021-01-01", t1=["2021-01-31", "2021-02-28", "2021-03-31"][ntime - 1],
                        dt="P1M", dx=1.0 / 16, dy=1.0 / 16, aggregation=agg, resampling="bilinear")
    g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=16, cx=16)
    return raster_cube(imgs, v, band_names(lay), chunking=g, salt=salt)


def _unfused(scan):
    """The same scan as a plain cube: no build, so map_chunks adds its own
    mapInArrow over the scan's output."""
    return Cube(scan.df, scan.view, scan.bands, scan.chunking)


@pytest.mark.parametrize("salt", [0, 2])
def test_scan_fusion_matches_unfused(spark, salt):
    """A narrow op on a raster_cube runs inside the scan's build (unsalted)
    or merge (salted) UDF, with no MapInArrow node, and equals the same op
    over the scan's output."""
    # median is not decomposable, so it runs unsalted; the salted case
    # fuses into the merge of a mean scan
    scan = _scan(spark, 2, "median" if salt == 0 else "mean", salt)
    expr = "(b02 - b01) / (b02 + b01 + 1)"
    fused = scan.apply_pixel(expr, ["ndvi"])
    ref = _unfused(scan).apply_pixel(expr, ["ndvi"])
    assert _plan_nodes(fused.df) == SCAN_NODES[salt]
    assert _plan_nodes(ref.df) == [MAP] + SCAN_NODES[salt]
    got = fused.collect_array()
    assert np.array_equal(got, ref.collect_array(), equal_nan=True)
    base = scan.collect_array()
    assert np.array_equal(got[0], (base[1] - base[0]) / (base[1] + base[0] + 1), equal_nan=True)


@pytest.mark.parametrize("salt", [0, 2])
def test_scan_fusion_stream_routes(spark, salt):
    """Both consumer routes of a scan-fused chain equal the unfused
    computation: the combinable reduce reads the bare scan through
    chunk_stream and runs the chain in its partial UDF; the median gather
    reads cube.df, the chain fused into the scan's build."""
    scan = _scan(spark, 3, "mean", salt)
    fused = scan.apply_pixel("b01 * 2 + b02", ["s"])
    ref = _unfused(scan).apply_pixel("b01 * 2 + b02", ["s"])
    got_c, ref_c = (c.reduce_time("mean(s)", "max(s)") for c in (fused, ref))
    assert _plan_nodes(got_c.df) == [FMG, EX, MAP] + SCAN_NODES[salt]
    assert np.array_equal(got_c.collect_array(), ref_c.collect_array(), equal_nan=True)
    got_m, ref_m = (c.reduce_time("median(s)", names=["m"]) for c in (fused, ref))
    assert _plan_nodes(got_m.df) == [FMG, EX] + SCAN_NODES[salt]
    assert np.array_equal(got_m.collect_array(), ref_m.collect_array(), equal_nan=True)
