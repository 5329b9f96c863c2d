"""Narrow-op fusion: chained map_chunks ops run as ONE mapInArrow.

Each narrow operator (apply_pixel, filter_pixel, rename/select via
map_chunks, nct==1 reduce/window/fill, apply_time, predict) used to add its
own Python map node — one JVM↔Python Arrow round-trip plus a tensor
pack/unpack per operator per chunk. Cube.map_chunks now composes onto the
previous chain (cube.py), the Python-side analogue of whole-stage codegen.

These tests pin (a) the plan shape — exactly one Python node for an
arbitrarily long narrow chain — and (b) value equality with the unfused
execution (forced by breaking the chain through a shuffle-ish boundary).
"""

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
