"""Physical-plan assertions: the declarative parts of the engine must let
Catalyst do its job — predicate pushdown to parquet, partition pruning on
chunk coords, broadcast of small join sides."""

import inspect
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdalcubes_spark.cube import dummy_cube, read_parquet_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


# a plan line's node name when the node runs Python (MapInPandas,
# FlatMapGroupsInArrow, ArrowEvalPython, ...)
PYTHON_NODE = re.compile(r"^[\s:|+-]*(\w*(?:InPandas|InArrow|EvalPython)\w*)", re.M)


def view10():
    return CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                           t0="2021-01-01", t1="2021-01-06", dt="P1D", dx=1.0, dy=1.0)


class TestPlans:
    def test_chunk_filter_pushed_to_parquet(self, spark, tmp_path):
        # slice_time on a parquet-backed cube: the ct filter must reach the
        # scan as PushedFilters (partition pruning at the storage layer)
        c = dummy_cube(spark, view10(), 1, 1.0, chunking=ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5))
        p = str(tmp_path / "cube")
        c.write_parquet(p)
        c2 = read_parquet_cube(spark, p)
        s = c2.slice_time(it=3)
        plan = s.df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "ct" in plan.split("PushedFilters")[1][:200]

    def test_parquet_column_pruning(self, spark):
        # reading 2 columns of lineitem must not scan all 11 (ReadSchema)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        q = li.select("l_orderkey", "l_quantity").filter(F.col("l_orderkey") % 6 == 0)
        plan = q._jdf.queryExecution().executedPlan().toString()
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema

    def test_extract_geom_semi_join_prunes_chunks(self, spark):
        # the chunk-mask analogue: the broadcast inner join of the chunks with
        # their feature lists keeps only chunks that have candidate features
        from gdalcubes_spark.geom import rect_wkt
        from gdalcubes_spark.operators.extract_geom import extract_geom
        c = dummy_cube(spark, view10(), 1, 1.0, chunking=ChunkGrid(nt=6, ny=10, nx=10, ct=6, cy=2, cx=2))
        feats = spark.createDataFrame([(1, rect_wkt(0, 8, 2, 10))], "fid long, wkt string")
        rows = extract_geom(c, feats)
        plan = rows._jdf.queryExecution().executedPlan().toString()
        # the feature side is broadcast in the initial plan: no SortMergeJoin
        # that would shuffle the cube's tensors before AQE could re-plan it
        assert re.search(r"BroadcastHashJoin \[chunk_id#\d+L?\], \[chunk_id#\d+L?\], Inner, BuildRight", plan), plan
        assert "SortMergeJoin" not in plan and "LeftSemi" not in plan
        # and the result is correct: 4 cells × 6 slices
        assert rows.count() == 24

    def test_extract_geom_has_one_python_node(self, spark):
        """The feature cover is column expressions: on a cube with no Python
        of its own, a zonal_stats plan (partial-state and long-form path) and
        an extract_geom(time_column=) plan run exactly one Python node, the
        mapInArrow over the chunks joined with their feature lists."""
        import datetime as dt

        from gdalcubes_spark.cube import cube_from_array
        from gdalcubes_spark.geom import rect_wkt
        from gdalcubes_spark.operators.extract_geom import extract_geom, zonal_stats
        arr = np.random.default_rng(0).random((1, 6, 10, 10))
        c = cube_from_array(spark, arr, view10(), chunking=ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5))
        feats = spark.createDataFrame([(1, rect_wkt(1, 1, 6, 6)), (2, "POINT (7.5 2.5)")], "fid long, wkt string")
        timed = spark.createDataFrame([(1, "POINT (7.5 2.5)", dt.datetime(2021, 1, 3))],
                                      "fid long, wkt string, t timestamp")
        for df in (zonal_stats(c, feats, ["mean", "median"]), zonal_stats(c, feats, ["mean", "count"]),
                   extract_geom(c, timed, time_column="t")):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert PYTHON_NODE.findall(plan) == ["MapInArrow"], plan

    def test_zonal_stats_fuses_pending_chain(self, spark):
        """zonal_stats over a cube with a pending narrow chain runs the chain
        inside the extract's mapInArrow: one Python node, no cogroup and no
        semi-join, the feature table scanned once, and the rows of the same
        chain materialized first."""
        from gdalcubes_spark.cube import cube_from_array
        from gdalcubes_spark.geom import rect_wkt
        from gdalcubes_spark.operators.extract_geom import zonal_stats
        g = ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5)
        arr = np.random.default_rng(1).random((2, 6, 10, 10))
        chained = cube_from_array(spark, arr, view10(), chunking=g).apply_pixel(
            "band1 * 2 - band2", ["d"]).filter_pixel("d > 0")
        done = cube_from_array(spark, chained.collect_array(), view10(), chunking=g, band_names=["d"])
        feats = spark.createDataFrame([(1, rect_wkt(1, 1, 6, 6)), (2, "POINT (7.5 2.5)")], "fid long, wkt string")
        for fns in (["mean", "median", "count"], ["mean", "count", "max"]):
            got = zonal_stats(chained, feats, fns)
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert PYTHON_NODE.findall(plan) == ["MapInArrow"], plan
            assert "LeftSemi" not in plan and plan.count("Scan ExistingRDD") == 1, plan
            want = sorted(zonal_stats(done, feats, fns).collect())
            rows = sorted(got.collect())
            assert want and len(rows) == len(want)
            for a, b in zip(rows, want):  # means to 1e-12: partial sums merge in fetch order
                assert tuple(a) == pytest.approx(tuple(b), rel=1e-12)

    def test_tensor_udf_stages_pinned_to_one_wave(self, spark):
        """The scan's and the reduce_time gather's user-numbered exchanges
        hold min(n_groups, parallelism) partitions: one wave of Python tasks,
        no oversubscription. extract_geom adds no exchange of the tensors: it
        runs in the gather's partitions."""
        from gdalcubes_spark import cube as cube_mod
        from gdalcubes_spark.geom import rect_wkt
        from gdalcubes_spark.operators.extract_geom import extract_geom
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.synth import ImageLayout, band_names, generate_images
        assert "4 * par" not in inspect.getsource(cube_mod.pin_group_partitions)
        par = spark.sparkContext.defaultParallelism

        def pinned(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return sorted((k, int(n)) for k, n in
                          re.findall(r"hashpartitioning\((\w+)#\w+, (\d+)\), REPARTITION_BY_NUM", plan))

        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=3, tile_w=16, tile_h=16, nb=1, fmts=("raw",))
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=0.25, dy=0.25,
                            aggregation="median", resampling="near")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)  # 12 chunks, 4 spatial
        scan = raster_cube(generate_images(spark, 12, lay), v, band_names(lay), chunking=g)
        med = scan.reduce_time(f"median({band_names(lay)[0]})")
        feats = spark.createDataFrame([(1, rect_wkt(0.1, 0.1, 3.9, 3.9))], "fid long, wkt string")
        n_scan, n_red = min(g.n_chunks, par), min(g.ncy * g.ncx, par)
        assert pinned(scan.df) == [("chunk_id", n_scan)]
        assert pinned(med.df) == sorted([("chunk_id", n_scan), ("skey", n_red)])
        ex = extract_geom(med, feats)
        assert pinned(ex) == sorted([("chunk_id", n_scan), ("skey", n_red)])
        assert ex.rdd.getNumPartitions() == n_red

    def test_chunk_udfs_are_arrow_nodes(self, spark, tmp_path, monkeypatch):
        """Every chunk UDF is an Arrow node. A cube built through the scan,
        reduce_time (partial/merge and gather), window_time's halo exchange,
        crop, join_bands, cells and from_cells, then checkpointed, and zonal
        stats over it (both paths) execute no MapInPandas,
        FlatMapGroupsInPandas or FlatMapCoGroupsInPandas node."""
        from pyspark.sql.readwriter import DataFrameWriter

        from gdalcubes_spark.checkpoint import read_checkpoint, write_checkpoint
        from gdalcubes_spark.cube import Cube
        from gdalcubes_spark.geom import rect_wkt
        from gdalcubes_spark.operators.extract_geom import zonal_stats
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.synth import ImageLayout, band_names, generate_images

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        written = []  # the checkpoint commit's plan, taken at its parquet write
        parquet = DataFrameWriter.parquet

        def recording_parquet(self, path, *args, **kwargs):
            written.append(plan(self._df))
            return parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=4, tile_w=16, tile_h=16, nb=1, fmts=("raw",))
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-04", dt="P1D", dx=0.25, dy=0.25,
                            aggregation="mean", resampling="near")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=2, cy=8, cx=8)  # nct = 2: the wide paths
        b = band_names(lay)[0]
        gen = generate_images(spark, 16, lay)  # the synthetic source is itself a pandas UDF
        images = spark.createDataFrame(gen.collect(), gen.schema)
        scan = raster_cube(images, v, band_names(lay), chunking=g)
        partial = scan.reduce_time(f"mean({b})")
        gather = scan.reduce_time(f"median({b})")
        halo = scan.window_time([1, 1], reducer=f"mean({b})")
        cropped = halo.crop(left=0.5, right=3.5, bottom=0.5, top=3.5)
        joined = partial.join_bands(gather)
        rebuilt = Cube.from_cells(joined.cells(), joined.view, joined.bands, joined.chunking)
        write_checkpoint(rebuilt, str(tmp_path / "ck"))

        feats = spark.createDataFrame([(1, rect_wkt(0.6, 0.6, 3.1, 2.9))], "fid long, wkt string")
        zonal = [zonal_stats(gather, feats, fns) for fns in (["mean"], ["median"])]
        plans = [plan(c.df) for c in (scan, partial, gather, halo, cropped, joined, rebuilt)] + written
        plans += [plan(z) for z in zonal]
        for p in plans:
            assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, p
            assert "FlatMapCoGroupsInPandas" not in p, p
        assert "MapInArrow" in written[0]  # the commit pass
        assert all("FlatMapGroupsInArrow" in p for p in plans[:7])
        got = read_checkpoint(spark, str(tmp_path / "ck")).collect_array()
        assert np.array_equal(got, joined.collect_array(), equal_nan=True)
        assert not np.all(np.isnan(got)) and not np.all(np.isnan(cropped.collect_array()))

    def test_whole_stage_codegen_for_text_features(self, spark):
        # text analysis must stay JVM-side: no Python UDF nodes in the plan
        from gdalcubes_spark.pipeline.text import text_features
        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = text_features(d)._jdf.queryExecution().executedPlan().toString()
        assert plan.lstrip().startswith("*(")  # whole-stage codegen marker
        assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


class TestBucketedJoin:
    def test_join_bands_of_bucketed_tables_is_shuffle_free(self, spark):
        """Co-located cube⋈cube: two cubes materialized with the SAME bucket
        spec on chunk_id join WITHOUT any Exchange (the bucket distribution
        satisfies the join requirement) — the 100 TB join_bands story."""
        from gdalcubes_spark.cube import read_bucketed_cube
        from gdalcubes_spark.operators.join_bands import join_bands
        g = ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5)
        a = dummy_cube(spark, view10(), 1, 1.0, chunking=g, band_names=["a"])
        b = dummy_cube(spark, view10(), 1, 2.0, chunking=g, band_names=["b"])
        a.write_bucketed_table("ta_bucketed", buckets=8)
        b.write_bucketed_table("tb_bucketed", buckets=8)
        ca = read_bucketed_cube(spark, "ta_bucketed")
        cb = read_bucketed_cube(spark, "tb_bucketed")
        j = join_bands([ca, cb])
        plan = j.df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        arr = j.collect_array()
        assert arr.shape == (2, 6, 10, 10)
        assert np.allclose(arr[0], 1.0) and np.allclose(arr[1], 2.0)
        assert j.bands == ["a", "b"]


class TestInventoryPartitionPruning:
    def test_partitioned_inventory_prunes_and_scans_correctly(self, spark, tmp_path):
        from gdalcubes_spark.sources.raster_cube import (inventory_partition_columns,
                                                         raster_cube, read_inventory)
        from gdalcubes_spark.synth import ImageLayout, band_names, generate_images
        lay = ImageLayout(left0=0, top0=8, tile_dx=2.0, tile_dy=2.0, gx=4, gy=4,
                          ntime=6, dt_days=31, tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        imgs = inventory_partition_columns(generate_images(spark, 96, lay), cell_deg=2.0)
        path = str(tmp_path / "inventory")
        imgs.write.partitionBy("pt_tb", "pt_gy", "pt_gx", "pt_ext").parquet(path)

        # a view over 2 months and the NW quarter of the space
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=4, top=8,
                            t0="2021-01-01", t1="2021-02-28", dt="P1M", dx=0.25, dy=0.25,
                            aggregation="first", resampling="near")
        pruned = read_inventory(spark, path, v, cell_deg=2.0)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "pt_tb" in plan.split("PartitionFilters")[1][:300]
        # pruning really cut the input (full table is 96 rows over 6 months/16 tiles)
        assert 0 < pruned.count() < 96

        from gdalcubes_spark.grid import ChunkGrid
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=16, cx=16)
        full_scan = raster_cube(spark.read.parquet(path), v, band_names(lay), chunking=g)
        pruned_scan = raster_cube(pruned, v, band_names(lay), chunking=g)
        a, b = full_scan.collect_array(), pruned_scan.collect_array()
        assert np.allclose(np.nan_to_num(a, nan=-1), np.nan_to_num(b, nan=-1))

    def test_oversized_image_survives_pruning(self, spark, tmp_path):
        """VERDICT wrong #2: an image spanning 3+ coarse cells whose CENTER
        sits ≥ 2 cells outside the view must still be found by the pruned
        read (the old fixed one-cell slack dropped it silently)."""
        import pandas as pd
        from gdalcubes_spark import codecs
        from gdalcubes_spark.sources.raster_cube import (inventory_partition_columns,
                                                         raster_cube, read_inventory)
        from gdalcubes_spark.synth import IMAGE_SCHEMA, ImageLayout, band_names, generate_images

        lay = ImageLayout(left0=0, top0=8, tile_dx=2.0, tile_dy=2.0, gx=4, gy=4,
                          ntime=1, tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        small = generate_images(spark, 16, lay)
        # one giant mosaic: [0,16]×[0,8] degrees (8×4 coarse cells at
        # cell_deg=2); its center (8, 4) is 2+ cells away from the view
        big_arr = np.full((1, 16, 32), 200, dtype=np.uint8)
        big = spark.createDataFrame(pd.DataFrame([dict(
            image_id="img_999999999999", bytes=codecs.encode(big_arr, "raw"),
            w=32, h=16, fmt="raw", caption="mosaic", phash=codecs.phash64(big_arr),
            left=0.0, right=16.0, bottom=0.0, top=8.0,
            datetime=pd.Timestamp("2021-01-01"), epsg=4326,
            nleft=0.0, nright=16.0, nbottom=0.0, ntop=8.0)]), IMAGE_SCHEMA)
        inv = inventory_partition_columns(small.unionByName(big), cell_deg=2.0)
        path = str(tmp_path / "inv_big")
        inv.write.partitionBy("pt_tb", "pt_gy", "pt_gx", "pt_ext").parquet(path)

        # view over the far-left 2 cells — center of the mosaic is 3 cells east
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=4, top=8,
                            t0="2021-01-01", t1="2021-01-31", dt="P1M", dx=0.5, dy=0.5,
                            aggregation="last", resampling="near")
        pruned = read_inventory(spark, path, v, cell_deg=2.0)
        assert pruned.filter("image_id = 'img_999999999999'").count() == 1
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        g = ChunkGrid(nt=1, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)
        a = raster_cube(pruned, v, band_names(lay), chunking=g).collect_array()
        b = raster_cube(spark.read.parquet(path), v, band_names(lay), chunking=g).collect_array()
        assert np.allclose(np.nan_to_num(a, nan=-1), np.nan_to_num(b, nan=-1))
        # the mosaic's value (200, aggregation=last, it's the highest id)
        assert np.all(a == 200.0)


class TestDriverGatePlans:
    def test_media_meta_oracle_is_shuffle_free(self, spark):
        """The merged GIF/MP3/MP4 gate must stay pure map work: three
        generate->parse mapInPandas branches under a plan-level Union —
        ZERO Exchanges (no shuffle surface at any scale)."""
        import sys
        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as E
        df = E.queries()["media_meta_oracle"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 6  # generate+parse x 3 kinds
        assert plan.startswith("Union")
