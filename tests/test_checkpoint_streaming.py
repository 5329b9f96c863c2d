"""Checkpoint/lineage/resume + Structured Streaming + cube persistence."""

import glob
import json
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdalcubes_spark.cube import dummy_cube, read_parquet_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


def view10():
    return CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                           t0="2021-01-01", t1="2021-01-06", dt="P1D", dx=1.0, dy=1.0)


def _series_view(n):
    return CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                           t0="2021-01-01", t1=f"2021-01-{n:02d}", dt="P1D", dx=1.0, dy=1.0)


def _cube8(spark, fill=1.0, nb=1, right=8, cy=4):
    """A 2-slice, 8-row dummy cube in cy×cy chunks: 8×8 in 8 chunks by default."""
    v = CubeView.create(srs="EPSG:4326", left=0, right=right, bottom=0, top=8,
                        t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
    return dummy_cube(spark, v, nb, fill, chunking=ChunkGrid(nt=2, ny=8, nx=right, ct=1, cy=cy, cx=cy))


def _jobs(spark, fn) -> int:
    """The number of Spark jobs fn() runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestCheckpoint:
    def test_write_read_roundtrip(self, spark, tmp_path):
        from gdalcubes_spark.checkpoint import read_checkpoint, write_checkpoint
        c = dummy_cube(spark, view10(), 2, 3.0,
                       chunking=ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5)).apply_pixel(
            "ix + iy", ["s"], keep_bands=True)
        path = str(tmp_path / "ckpt")
        write_checkpoint(c, path)
        c2 = read_checkpoint(spark, path)
        assert c2.bands == c.bands
        assert np.allclose(np.nan_to_num(c2.collect_array()), np.nan_to_num(c.collect_array()))
        # lineage + per-partition metrics exist
        lin = json.load(open(f"{path}/_lineage.json"))
        assert "plan" in lin and lin["bands"] == ["band1", "band2", "s"]
        m = spark.read.parquet(f"{path}/chunks").drop("data")
        assert m.count() == c.df.count()
        row = m.first()
        assert row["n_cells"] > 0 and row["partition_id"] >= 0

    def test_resume_computes_only_missing(self, spark, tmp_path):
        from gdalcubes_spark.checkpoint import read_checkpoint, resume, write_checkpoint
        g = ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5)
        c = dummy_cube(spark, view10(), 1, 1.0, chunking=g)
        path = str(tmp_path / "ckpt2")
        write_checkpoint(c, path)
        # simulate a lost-executor partial write: delete some chunk rows
        full = spark.read.parquet(f"{path}/chunks")
        kept = full.filter(F.col("chunk_id") % 3 != 0)
        n_dropped = full.count() - kept.count()
        kept.write.mode("overwrite").parquet(str(tmp_path / "partial"))
        shutil.rmtree(f"{path}/chunks")
        shutil.move(str(tmp_path / "partial"), f"{path}/chunks")
        appended = resume(c, path)
        assert appended == n_dropped
        # checkpoint is now complete and correct again
        c2 = read_checkpoint(spark, path)
        assert np.allclose(c2.collect_array(), 1.0)
        # second resume is a no-op
        assert resume(c, path) == 0

    def test_resume_metrics_one_row_per_chunk(self, spark, tmp_path):
        """write → lose one committed part file (and with it the metrics
        columns of its chunks) → resume: chunks/ holds one metrics row per
        committed chunk, measured from the chunk itself."""
        from gdalcubes_spark.checkpoint import resume, write_checkpoint
        g = ChunkGrid(nt=6, ny=10, nx=10, ct=2, cy=5, cx=5)
        c = dummy_cube(spark, view10(), 2, 1.0, chunking=g).filter_pixel("ix + iy < 12")
        path = str(tmp_path / "ckpt_m")
        write_checkpoint(c, path)
        files = sorted(glob.glob(f"{path}/chunks/part-*.parquet"))
        assert len(files) > 1
        lost = {r["chunk_id"] for r in spark.read.parquet(files[0]).select("chunk_id").collect()}
        os.remove(files[0])
        assert resume(c, path) == len(lost) > 0

        chunks = spark.read.parquet(f"{path}/chunks").toPandas().set_index("chunk_id")
        m = spark.read.parquet(f"{path}/chunks").drop("data").toPandas()
        assert m["chunk_id"].is_unique and set(m["chunk_id"]) == set(chunks.index)
        assert len(chunks) == c.df.count()
        m = m.set_index("chunk_id").loc[chunks.index]
        want_nan = [int(np.isnan(np.frombuffer(d, dtype="<f8")).sum()) for d in chunks["data"]]
        assert list(m["n_nan"]) == want_nan and 0 < sum(want_nan) < m["n_cells"].sum()
        assert list(m["n_cells"]) == list(chunks.nb * chunks.nt * chunks.ny * chunks.nx)
        assert list(m["bytes"]) == [len(d) for d in chunks["data"]]
        assert (m["wall_ms"] > 0).all()
        # complete checkpoint: a second resume commits and reports nothing,
        # and leaves no empty part file behind
        parts = sorted(os.listdir(f"{path}/chunks"))
        assert resume(c, path) == 0
        assert spark.read.parquet(f"{path}/chunks").drop("data").count() == len(chunks)
        assert sorted(os.listdir(f"{path}/chunks")) == parts

    def test_cube_parquet_roundtrip(self, spark, tmp_path):
        c = dummy_cube(spark, view10(), 1, 7.0)
        p = str(tmp_path / "cube_pq")
        c.write_parquet(p)
        c2 = read_parquet_cube(spark, p)
        assert np.allclose(c2.collect_array(), 7.0)
        assert c2.view.nt == 6

    def test_commit_is_one_job(self, spark, tmp_path):
        """The metrics are columns of chunks/, so a commit is the chunk write
        alone: write_checkpoint runs 1 Spark job. resume runs 2: the broadcast
        of the committed chunk ids to the left-anti join, and the chunk
        write. chunks/ is read with a known schema, so no job infers it."""
        from gdalcubes_spark.checkpoint import resume, write_checkpoint
        c = _cube8(spark)
        path = str(tmp_path / "ckpt")
        assert _jobs(spark, lambda: write_checkpoint(c, path)) == 1
        os.remove(sorted(glob.glob(f"{path}/chunks/part-*.parquet"))[0])
        assert _jobs(spark, lambda: resume(c, path)) == 2

    def test_resume_chunks_without_part_files_recomputes_all(self, spark, tmp_path):
        """A job lost before its commit leaves chunks/ holding only
        _temporary/: resume recomputes every chunk instead of failing to
        infer a schema from no part file."""
        from gdalcubes_spark.checkpoint import read_checkpoint, resume, write_checkpoint
        c = _cube8(spark, fill=2.0)
        path = str(tmp_path / "ckpt")
        write_checkpoint(c, path)
        shutil.rmtree(f"{path}/chunks")
        os.makedirs(f"{path}/chunks/_temporary/0")
        assert resume(c, path) == c.chunking.n_chunks
        np.testing.assert_array_equal(read_checkpoint(spark, path).collect_array(), c.collect_array())

    @pytest.mark.parametrize("field, other", [
        ("chunking", dict(cy=2)),  # another chunking of the same grid
        ("bands", dict(nb=2)),  # other bands
        ("view", dict(right=12)),  # another view extent, same chunk size
    ])
    def test_resume_refuses_another_cube(self, spark, tmp_path, field, other):
        """resume() must not append chunks of a cube its lineage does not
        describe: the ids would collide or mix grids in one table."""
        from gdalcubes_spark.checkpoint import read_checkpoint, resume, write_checkpoint
        path = str(tmp_path / "ckpt")
        write_checkpoint(_cube8(spark), path)
        os.remove(sorted(glob.glob(f"{path}/chunks/part-*.parquet"))[0])
        parts = sorted(os.listdir(f"{path}/chunks"))
        with pytest.raises(ValueError, match=field):
            resume(_cube8(spark, **other), path)
        assert sorted(os.listdir(f"{path}/chunks")) == parts
        assert resume(_cube8(spark), path) > 0  # the checkpoint's own cube still resumes
        assert np.allclose(read_checkpoint(spark, path).collect_array(), 1.0)

    def test_resume_refuses_chunks_without_lineage(self, spark, tmp_path):
        from gdalcubes_spark.checkpoint import resume, write_checkpoint
        path = str(tmp_path / "ckpt")
        write_checkpoint(_cube8(spark), path)
        os.remove(f"{path}/_lineage.json")
        with pytest.raises(ValueError, match="_lineage.json"):
            resume(_cube8(spark), path)

    def test_file_uri_lineage_is_written_at_the_path(self, spark, tmp_path, monkeypatch):
        """The lineage goes through the same Hadoop FileSystem as chunks/: a
        file: URI lands at its path, not under the working directory."""
        from gdalcubes_spark.checkpoint import read_checkpoint, write_checkpoint
        q = tmp_path / "q"
        for d in ("a", "b"):
            (tmp_path / d).mkdir()
        monkeypatch.chdir(tmp_path / "a")
        write_checkpoint(_cube8(spark, fill=5.0), f"file:{q}")
        assert (q / "_lineage.json").is_file() and (q / "chunks").is_dir()
        monkeypatch.chdir(tmp_path / "b")
        c2 = read_checkpoint(spark, f"file:{q}")
        assert c2.chunking.cy == 4 and np.allclose(c2.collect_array(), 5.0)


class TestResumeRobustness:
    def test_fresh_path_full_write(self, spark, tmp_path):
        from gdalcubes_spark.checkpoint import read_checkpoint, resume
        v = _series_view(2)
        c = dummy_cube(spark, v, 1, 4.0, chunking=ChunkGrid(nt=2, ny=2, nx=2, ct=1, cy=2, cx=2))
        p = str(tmp_path / "ckpt")
        assert resume(c, p) == -1
        assert np.allclose(read_checkpoint(spark, p).collect_array(), 4.0)

    def test_corrupt_read_raises_not_overwrites(self, spark, tmp_path):
        import os
        from gdalcubes_spark.checkpoint import resume, write_checkpoint
        v = _series_view(2)
        c = dummy_cube(spark, v, 1, 4.0, chunking=ChunkGrid(nt=2, ny=2, nx=2, ct=1, cy=2, cx=2))
        p = str(tmp_path / "ckpt")
        write_checkpoint(c, p)
        # corrupt the chunk store: parquet read must now FAIL, and resume must
        # propagate instead of silently overwriting committed chunks
        for f in os.listdir(f"{p}/chunks"):
            os.remove(f"{p}/chunks/{f}")
        with open(f"{p}/chunks/garbage.parquet", "w") as f:
            f.write("not parquet")
        with pytest.raises(Exception):
            resume(c, p)
        # the garbage file is still there — nothing was overwritten
        assert open(f"{p}/chunks/garbage.parquet").read() == "not parquet"

    def test_resume_appends_only_missing(self, spark, tmp_path):
        from gdalcubes_spark.checkpoint import resume, write_checkpoint
        from gdalcubes_spark.cube import Cube
        v = _series_view(2)
        c = dummy_cube(spark, v, 1, 4.0, chunking=ChunkGrid(nt=2, ny=2, nx=2, ct=1, cy=2, cx=2))
        p = str(tmp_path / "ckpt")
        partial = Cube(c.df.filter("ct = 0"), c.view, c.bands, c.chunking)
        write_checkpoint(partial, p)
        assert resume(c, p) == 1  # only the ct=1 chunk is recomputed


class TestCheckpointFsExists:
    def test_file_uri_checkpoint_is_seen(self, spark, tmp_path):
        """resume() must see an existing checkpoint through a file: URI —
        os.path.exists('file:/...') is False and pre-fix it OVERWROTE."""
        from gdalcubes_spark.checkpoint import _fs_exists, resume, write_checkpoint
        from gdalcubes_spark.cube import dummy_cube
        from gdalcubes_spark.grid import CubeView
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, fill=3.0)
        p = str(tmp_path / "ckpt")
        write_checkpoint(c, p)
        assert _fs_exists(spark, f"{p}/_lineage.json")
        assert _fs_exists(spark, f"file:{p}/_lineage.json")
        assert not _fs_exists(spark, f"{p}/nope")
        # file: URI path → existing checkpoint recognized, nothing recomputed
        assert resume(c, f"file:{p}") == 0


class TestStreaming:
    def test_streaming_cell_counts(self, spark, tmp_path):
        from gdalcubes_spark.streaming import run_to_memory, streaming_cell_counts, streaming_inventory
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(left0=0, top0=10, tile_dx=2.0, tile_dy=2.0, gx=5, gy=5, ntime=3,
                          tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        src = str(tmp_path / "drops")
        # two "arrival" batches of inventory files
        generate_images(spark, 30, lay).write.mode("overwrite").parquet(src)
        generate_images(spark, 75, lay).filter("image_id >= 'img_000000000030'") \
            .write.mode("append").parquet(src)
        v = CubeView.create(srs="EPSG:4326", left=0, right=10, bottom=0, top=10,
                            t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=0.5, dy=0.5)
        g = ChunkGrid(nt=3, ny=20, nx=20, ct=1, cy=10, cx=10)
        stream = streaming_inventory(spark, src, max_files_per_trigger=2)
        assert stream.isStreaming
        agg = streaming_cell_counts(stream, v, g, watermark="1 hour", window="1 day")
        run_to_memory(agg, "cellcounts")
        out = spark.sql("SELECT sum(n_images) AS n FROM cellcounts").first()
        assert out["n"] == 75  # every arrival counted exactly once
        per_chunk = spark.sql("SELECT chunk_id, sum(n_images) n FROM cellcounts GROUP BY 1")
        assert per_chunk.count() > 1  # spread over chunks

    def test_streaming_cell_counts_utm_view(self, spark, tmp_path):
        """Into an EPSG:32632 view, each arrival counts at the chunk holding
        its top-left corner in UTM — recomputed here in numpy from the
        inventory's EPSG:4326 bboxes."""
        from gdalcubes_spark import srs
        from gdalcubes_spark.streaming import run_to_memory, streaming_cell_counts, streaming_inventory
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(left0=8.0, top0=52.0, tile_dx=0.5, tile_dy=0.5, gx=2, gy=2, ntime=2,
                          tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        src = str(tmp_path / "utm_drops")
        imgs = generate_images(spark, 8, lay)
        imgs.filter("image_id < 'img_000000000004'").write.mode("overwrite").parquet(src)
        imgs.filter("image_id >= 'img_000000000004'").write.mode("append").parquet(src)
        l, b = srs.geodetic_to_utm(7.95, 50.95, zone=32)
        r, t = srs.geodetic_to_utm(9.05, 52.05, zone=32)
        v = CubeView.create(srs="EPSG:32632", left=float(l), right=float(r), bottom=float(b),
                            top=float(t), t0="2021-01-01", t1="2021-01-02", dt="P1D", nx=16, ny=16)
        g = ChunkGrid(nt=2, ny=16, nx=16, ct=1, cy=4, cx=4)
        stream = streaming_inventory(spark, src, max_files_per_trigger=1)
        run_to_memory(streaming_cell_counts(stream, v, g, watermark="1 hour", window="1 day"),
                      "utmcounts")
        got = {r["chunk_id"]: r["n"] for r in spark.sql(
            "SELECT chunk_id, sum(n_images) n FROM utmcounts GROUP BY 1").collect()}

        p = imgs.toPandas()
        X, Y = srs.geodetic_to_utm(np.stack([p.left, p.right, p.left, p.right]),
                                   np.stack([p.bottom, p.bottom, p.top, p.top]), zone=32)
        kx = np.clip(np.floor((X.min(axis=0) - v.left) / v.dx) // g.cx, 0, g.ncx - 1)
        ky = np.clip(np.floor((v.top - Y.max(axis=0)) / v.dy) // g.cy, 0, g.ncy - 1)
        it = (p.datetime - p.datetime.min()).dt.days.to_numpy()
        cid = (it // g.ct * g.ncy * g.ncx + ky * g.ncx + kx).astype(int)
        want = dict(zip(*np.unique(cid, return_counts=True)))
        assert sum(got.values()) == 8
        assert len(want) > 2  # corners land in several chunks, not one clamped corner
        assert got == want

    def test_streaming_events_window_matches_batch(self, spark, tmp_path):
        from gdalcubes_spark.streaming import run_to_memory, streaming_events_window
        src = str(tmp_path / "events_dir")
        os.makedirs(src, exist_ok=True)
        shutil.copy("/root/testdata/sf0.001/events.parquet", src + "/part-0.parquet")
        batch = spark.read.parquet(src)
        stream = (spark.readStream.schema(batch.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        agg = streaming_events_window(stream, watermark="0 seconds", window="1 hour")
        run_to_memory(agg, "evw")
        got = spark.sql("SELECT * FROM evw").toPandas()
        want = (batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
                .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
                ).toPandas()
        g = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
        w = want.sort_values(["window_start", "event_type"]).reset_index(drop=True)
        assert len(g) == len(w)
        assert (g["n"].to_numpy() == w["n"].to_numpy()).all()

    def test_streaming_stateful_dedup(self, spark, tmp_path):
        """applyInPandasWithState custom operator: first-occurrence-only
        across MULTIPLE micro-batches (state persists between triggers)."""
        import pandas as pd
        from gdalcubes_spark.streaming import streaming_dedup
        src = str(tmp_path / "docdrops")
        os.makedirs(src, exist_ok=True)
        # batch 1: docs 0..9; batch 2: clones of 0..4 (new ids) + new docs 10..14
        d1 = pd.DataFrame({"doc_id": range(10), "text": [f"doc number {i}" for i in range(10)]})
        d2 = pd.DataFrame({"doc_id": range(100, 110),
                           "text": [f"doc number {i}" for i in list(range(5)) + list(range(10, 15))]})
        spark.createDataFrame(d1).write.mode("overwrite").parquet(src)
        spark.createDataFrame(d2).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        from gdalcubes_spark.streaming import run_to_memory
        run_to_memory(streaming_dedup(stream), "sdedup", output_mode="append")
        got = spark.sql("SELECT doc_id FROM sdedup ORDER BY doc_id").toPandas()
        ids = set(got["doc_id"])
        assert len(ids) == 15  # 10 originals + 5 genuinely-new
        # the 5 clones in batch 2 must NOT re-emit under their new ids —
        # unless both copies arrived in the same first micro-batch (then min id wins)
        assert sum(1 for i in ids if i >= 100) == 5  # only the 5 new texts


class TestStreamingPhashDedup:
    def _sigs(self, spark, n=120):
        """md5-derived 60-bit signatures + clones with ≤2 flipped bits (the
        phash_neardup_md5 driver-query construction)."""
        d = spark.range(n).select(F.col("id"))
        h = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast("long")
        base = d.select(F.col("id"), h.alias("phash"))
        mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 57 AS INT)) | "
                      "shiftleft(CAST(1 AS BIGINT), CAST((id * 7) % 57 AS INT))")
        clones = base.filter("id % 3 = 0").select(
            (F.col("id") + 500000).alias("id"), F.col("phash").bitwiseXOR(mask).alias("phash"))
        return base.unionByName(clones)

    def test_streaming_matches_batch_pairs(self, spark, tmp_path):
        """Distinct streamed pairs across MULTIPLE micro-batches == the batch
        banded-bucket join's pairs (state persists between triggers; pairs
        can span arrival batches)."""
        from gdalcubes_spark.pipeline.dedup import hash_near_pairs
        from gdalcubes_spark.streaming import run_to_memory, streaming_phash_dedup
        sigs = self._sigs(spark).cache()
        want = {(r["ida"], r["idb"], r["hamming"])
                for r in hash_near_pairs(sigs, "id", "phash", max_hamming=4).collect()}
        assert want, "test data must contain near pairs"
        src = str(tmp_path / "sig_drops")
        # originals land first, clones arrive in a LATER micro-batch — every
        # pair must match against state, not within-batch rows
        sigs.filter("id < 500000").write.mode("overwrite").parquet(src)
        sigs.filter("id >= 500000").write.mode("append").parquet(src)
        stream = (spark.readStream.schema("id long, phash long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_to_memory(streaming_phash_dedup(stream, id_col="id", max_hamming=4,
                                            sig_bits=60),
                      "sphash", output_mode="append")
        got = {(r["ida"], r["idb"], r["hamming"]) for r in
               spark.sql("SELECT DISTINCT ida, idb, hamming FROM sphash").collect()}
        assert got == want
        sigs.unpersist()


class TestStreamingPhashKillRestart:
    def test_kill_restart_recovers_bucket_state(self, spark, tmp_path):
        """Exactly-once resume for the banded near-dup operator: run over
        the originals, STOP, land the clones, restart a FRESH query on the
        same checkpointLocation. The restarted query must pair the clones
        against the RECOVERED bucket state (every expected pair spans the
        kill boundary) and must not re-emit batch-1 work."""
        from gdalcubes_spark.pipeline.dedup import hash_near_pairs
        from gdalcubes_spark.streaming import streaming_phash_dedup
        d = spark.range(80)
        h = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast("long")
        base = d.select(F.col("id"), h.alias("phash"))
        mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 57 AS INT))")
        clones = base.filter("id % 2 = 0").select(
            (F.col("id") + 500000).alias("id"), F.col("phash").bitwiseXOR(mask).alias("phash"))
        want = {(r["ida"], r["idb"]) for r in hash_near_pairs(
            base.unionByName(clones), "id", "phash", max_hamming=4).collect()}
        assert want

        src = str(tmp_path / "sigs")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        base.write.mode("overwrite").parquet(src)

        def run_once():
            stream = (spark.readStream.schema("id long, phash long")
                      .option("maxFilesPerTrigger", 2).parquet(src))
            out = streaming_phash_dedup(stream, id_col="id", max_hamming=4, sig_bits=60)
            q = (out.writeStream.outputMode("append")
                 .foreachBatch(lambda df, _id: df.write.mode("append").parquet(sink))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_once()  # originals only — no pairs exist yet, but state is built
        clones.write.mode("append").parquet(src)
        run_once()  # fresh query, same checkpoint → pairs via recovered state
        got = {(r["ida"], r["idb"]) for r in
               spark.read.parquet(sink).select("ida", "idb").distinct().collect()}
        assert got == want


class TestStreamingEmbedNeardup:
    def test_streaming_matches_batch_bucketed(self, spark, tmp_path):
        """Streamed exact-verified pairs across micro-batches == the batch
        bucketed near-dup (both have recall 1 on scaled clones: identical
        sign patterns in every table). Clones arrive in a LATER trigger, so
        every pair matches against state."""
        from gdalcubes_spark.pipeline.similarity import cosine_neardup_pairs_bucketed
        from gdalcubes_spark.streaming import run_to_memory, streaming_embed_neardup
        emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
               .filter("vec_id < 150")
               .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")))
        clones = emb.filter("vec_id % 2 = 0").select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"))
        allv = emb.unionByName(clones).cache()
        want = {(r["ida"], r["idb"]) for r in
                cosine_neardup_pairs_bucketed(allv, threshold=0.999).collect()}
        assert want
        src = str(tmp_path / "emb_drops")
        emb.write.mode("overwrite").parquet(src)
        clones.write.mode("append").parquet(src)
        stream = (spark.readStream.schema("vec_id long, embedding array<double>")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_to_memory(streaming_embed_neardup(stream, threshold=0.999),
                      "semb", output_mode="append")
        rows = spark.sql("SELECT DISTINCT ida, idb, sim FROM semb").collect()
        got = {(r["ida"], r["idb"]) for r in rows}
        assert got == want
        assert all(r["sim"] >= 0.999 for r in rows)  # exact-verified, never bucket-trusted
        allv.unpersist()


def _chunk_rows_to_array(rows, nb, view, g):
    """Latest update per chunk (rows) → the dense (nb, nt, ny, nx) cube."""
    got = np.full((nb, view.nt, view.ny, view.nx), np.nan)
    for r in rows:
        t = np.frombuffer(r["data"], dtype="<f8").reshape(r["nb"], r["nt"], r["ny"], r["nx"])
        (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(r["ct"], r["cy"], r["cx"])
        got[:, t0:t1, y0:y1, x0:x1] = t
    return got


def _stream_scan_vs_batch(spark, tmp_path, name, lay, n, split, v, g):
    """Land images [0, split) and [split, n) as two drops, run streaming_scan
    over them one file per micro-batch, and return (streamed cube from the
    last update per chunk, batch raster_cube over all n images)."""
    from gdalcubes_spark.sources.raster_cube import raster_cube
    from gdalcubes_spark.streaming import run_to_memory, streaming_inventory, streaming_scan
    from gdalcubes_spark.synth import band_names, generate_images

    src = str(tmp_path / name)
    all_imgs = generate_images(spark, n, lay)
    cut = f"image_id < 'img_{split:012d}'"
    all_imgs.filter(cut).write.mode("overwrite").parquet(src)
    all_imgs.filter(f"NOT ({cut})").write.mode("append").parquet(src)

    stream = streaming_inventory(spark, src, max_files_per_trigger=1)  # >1 micro-batch
    run_to_memory(streaming_scan(stream, v, band_names(lay), chunking=g), name, output_mode="update")
    # consumers keep the LAST update per chunk (n_images_seen is monotone)
    rows = spark.sql(f"""
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_id ORDER BY n_images_seen DESC) rn
          FROM {name}) WHERE rn = 1""").collect()
    got = _chunk_rows_to_array(rows, lay.nb, v, g)
    want = raster_cube(all_imgs, v, band_names(lay), chunking=g).collect_array()
    return got, want


def _same(got, want):
    return np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1))


class TestStreamingScan:
    def test_incremental_scan_matches_batch(self, spark, tmp_path):
        """streaming_scan over two arrival batches == batch raster_cube(mean)
        on the full inventory (the incremental-ingest invariant)."""
        from gdalcubes_spark.synth import ImageLayout

        lay = ImageLayout(left0=0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=2, tile_w=8, tile_h=8, nb=1, fmts=("raw",), overlap=0.25)
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.5, dy=0.5,
                            aggregation="mean", resampling="near")
        g = ChunkGrid(nt=2, ny=8, nx=8, ct=1, cy=4, cx=4)
        got, want = _stream_scan_vs_batch(spark, tmp_path, "incscan", lay, 16, 8, v, g)
        assert _same(got, want)
        # statefulness really exercised: some chunk saw images in BOTH batches
        multi = spark.sql("SELECT chunk_id, COUNT(*) c FROM incscan GROUP BY 1 HAVING c > 1")
        assert multi.count() > 0

    def test_count_values_partial_coverage(self, spark, tmp_path):
        """Images cover a quarter of the one chunk per slice: like the batch
        scan, a touched slice reads 0 (not NaN) where no image has a value."""
        from gdalcubes_spark.synth import ImageLayout

        lay = ImageLayout(left0=0, top0=4.0, tile_dx=1.0, tile_dy=1.0, gx=2, gy=2,
                          ntime=2, tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.5, dy=0.5,
                            aggregation="count_values", resampling="near")
        g = ChunkGrid(nt=2, ny=8, nx=8, ct=1, cy=8, cx=8)
        got, want = _stream_scan_vs_batch(spark, tmp_path, "cvscan", lay, 6, 3, v, g)
        assert (want == 0).any()  # uncovered cells of a touched slice
        assert _same(got, want)

    def test_mean_into_utm_view(self, spark, tmp_path):
        """EPSG:4326 inventory into an EPSG:32632 view: the image bboxes are
        transformed into the view SRS before the chunk explode."""
        from gdalcubes_spark import srs
        from gdalcubes_spark.synth import ImageLayout

        lay = ImageLayout(left0=8.0, top0=52.0, tile_dx=0.5, tile_dy=0.5, gx=2, gy=2,
                          ntime=1, tile_w=16, tile_h=16, nb=1, fmts=("raw",))
        l, b = srs.geodetic_to_utm(8.05, 51.05, zone=32)
        r, t = srs.geodetic_to_utm(8.9, 51.9, zone=32)
        v = CubeView.create(srs="EPSG:32632", left=float(l), right=float(r),
                            bottom=float(b), top=float(t), t0="2021-01-01", t1="2021-01-01",
                            dt="P1D", nx=16, ny=16, aggregation="mean", resampling="near")
        g = ChunkGrid(nt=1, ny=16, nx=16, ct=1, cy=8, cx=8)
        got, want = _stream_scan_vs_batch(spark, tmp_path, "utmscan", lay, 8, 4, v, g)
        assert np.isfinite(want).mean() > 0.9
        assert _same(got, want)

    @pytest.mark.parametrize("method", ["min", "last"])
    def test_merge_across_restored_state(self, spark, tmp_path, method):
        """Every chunk gets images in both micro-batches (ids 4-7 land on the
        tiles of ids 0-3), so the result needs the restored state merged with
        the new fold — first/last by image id across batches."""
        from gdalcubes_spark.synth import ImageLayout

        lay = ImageLayout(left0=0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=1, tile_w=8, tile_h=8, nb=1, fmts=("raw",), overlap=0.25)
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=0.5, dy=0.5,
                            aggregation=method, resampling="near")
        g = ChunkGrid(nt=1, ny=8, nx=8, ct=1, cy=4, cx=4)
        got, want = _stream_scan_vs_batch(spark, tmp_path, f"merge_{method}", lay, 8, 4, v, g)
        assert np.isfinite(want).all()
        assert _same(got, want)

    def test_kill_restart_recovers_chunk_state(self, spark, tmp_path):
        """Exactly-once resume drill for streaming_scan: run the query over
        arrival batch 1, STOP it, land batch 2, then start a FRESH query on
        the same checkpointLocation. The restarted query must (a) not
        reprocess batch-1 files (source offsets recovered) and (b) combine
        batch-2 images with the RECOVERED per-chunk partials (state store) —
        the final mean only equals the batch scan if both held."""
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.streaming import streaming_inventory, streaming_scan
        from gdalcubes_spark.synth import ImageLayout, band_names, generate_images

        lay = ImageLayout(left0=0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=2, tile_w=8, tile_h=8, nb=1, fmts=("raw",), overlap=0.25)
        src = str(tmp_path / "arrivals")
        ckpt = str(tmp_path / "stream_ckpt")
        sink = str(tmp_path / "sink")
        all_imgs = generate_images(spark, 16, lay)
        all_imgs.filter("image_id < 'img_000000000008'").write.mode("overwrite").parquet(src)

        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.5, dy=0.5,
                            aggregation="mean", resampling="near")
        g = ChunkGrid(nt=2, ny=8, nx=8, ct=1, cy=4, cx=4)

        def run_once():
            stream = streaming_inventory(spark, src, max_files_per_trigger=4)
            out = streaming_scan(stream, v, ["B01"], chunking=g)
            q = (out.writeStream.outputMode("update")
                 .foreachBatch(lambda df, _id: df.write.mode("append").parquet(sink))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_once()  # processes batch 1, then the query STOPS (forced stop
        #             between arrival batches — the 'kill')
        n_after_b1 = spark.read.parquet(sink).count()
        assert n_after_b1 > 0

        # batch 2 lands while no query is running
        all_imgs.filter("image_id >= 'img_000000000008'").write.mode("append").parquet(src)
        run_once()  # FRESH query object, same checkpoint → must recover

        upd = spark.read.parquet(sink)
        rows = (upd.withColumn("rn", F.expr(
                    "row_number() OVER (PARTITION BY chunk_id ORDER BY n_images_seen DESC)"))
                .filter("rn = 1").collect())
        got = _chunk_rows_to_array(rows, 1, v, g)
        want = raster_cube(all_imgs, v, band_names(lay), chunking=g).collect_array()
        assert _same(got, want)
        # restart really combined OLD state with NEW images: some chunk's
        # final row counts images from both batches
        seen = {}
        for r in upd.select("chunk_id", "n_images_seen").collect():
            seen.setdefault(r.chunk_id, []).append(r.n_images_seen)
        assert any(max(vs) > min(vs) for vs in seen.values() if len(vs) > 1)


class TestStreamingTrainingOps:
    def test_streaming_deterministic_sample_matches_batch(self, spark, tmp_path):
        """deterministic_sample is a stateless row-wise filter, so it composes
        with Structured Streaming unchanged — a streaming ingest keeps exactly
        the rows the batch sample keeps (the property that makes the sampling
        decision auditable at the pipeline's ingest edge)."""
        import shutil as _sh
        from gdalcubes_spark.pipeline.sampling import deterministic_sample
        from gdalcubes_spark.streaming import run_to_memory
        src = str(tmp_path / "docstream")
        os.makedirs(src, exist_ok=True)
        _sh.copy("/root/testdata/sf0.001/documents.parquet", src + "/part-0.parquet")
        batch = spark.read.parquet(src)
        stream = (spark.readStream.schema(batch.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sampled = deterministic_sample(stream, 0.2).select("doc_id")
        run_to_memory(sampled, "s_sample", output_mode="append")
        got = set(r["doc_id"] for r in spark.sql("SELECT doc_id FROM s_sample").collect())
        want = set(r["doc_id"] for r in deterministic_sample(batch, 0.2).select("doc_id").collect())
        assert got == want and len(got) > 0


class TestStreamingSessions:
    def test_streaming_sessions_match_batch(self, spark, tmp_path):
        """session_window over a stream (two arrival files) == the batch
        sessionization — the stateful merge across micro-batches works."""
        import os as _os
        import shutil as _shutil
        from gdalcubes_spark.streaming import run_to_memory, streaming_events_sessions
        src = str(tmp_path / "events_sessions")
        _os.makedirs(src, exist_ok=True)
        full = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # split arrivals by user parity → sessions of a user never straddle
        # files, but the STATE store still has to merge windows per trigger
        full.filter("user_id % 2 = 0").write.parquet(src + "/a")
        full.filter("user_id % 2 = 1").write.parquet(src + "/b")
        for i, part in enumerate(("a", "b")):
            for f in _os.listdir(src + "/" + part):
                if f.endswith(".parquet"):
                    _shutil.copy(f"{src}/{part}/{f}", f"{src}/arrive_{i}_{f}")
        stream = (spark.readStream.schema(full.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/arrive_*"))
        agg = streaming_events_sessions(stream, watermark="0 seconds", gap="30 minutes")
        run_to_memory(agg, "evsess")
        got = spark.sql("SELECT * FROM evsess").toPandas()
        want = (full.groupBy(F.session_window(F.col("ts").cast("timestamp"), "30 minutes").alias("w"),
                             "user_id")
                .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
                .select("user_id", F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"), "n_events", "sum_value")).toPandas()
        key = ["user_id", "session_start"]
        g = got.sort_values(key).reset_index(drop=True)
        w = want.sort_values(key).reset_index(drop=True)
        assert len(g) == len(w)
        assert (g["n_events"].to_numpy() == w["n_events"].to_numpy()).all()
        assert np.allclose(g["sum_value"].to_numpy(), w["sum_value"].to_numpy())


class TestStreamingIVFAssign:
    """streaming_ivf_assign: stateless centroid assignment over a feed,
    building a partition-pruned IVF index incrementally."""

    def _centroids(self):
        import numpy as np
        # three well-separated unit directions in R^4
        return np.array([[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0]],
                        dtype="float64")

    def _vecs(self, n=30):
        import numpy as np
        rng = np.random.default_rng(7)
        base = self._centroids()
        rows = []
        for i in range(n):
            v = base[i % 3] + 0.05 * rng.standard_normal(4)
            rows.append((i, [float(x) for x in v]))
        return rows

    def test_batch_parity(self, spark):
        from gdalcubes_spark.pipeline.clustering import kmeans_assign
        from gdalcubes_spark.streaming import streaming_ivf_assign
        C = self._centroids()
        df = spark.createDataFrame(self._vecs(),
                                   "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["centroid"]
               for r in streaming_ivf_assign(df, C).collect()}
        want = {r["vid"]: r["centroid"]
                for r in kmeans_assign(df, C).collect()}
        assert got == want
        # every vector should land on its generating centroid
        assert all(got[i] == i % 3 for i in got)

    def test_incremental_partitioned_index(self, spark, tmp_path):
        from gdalcubes_spark.streaming import streaming_ivf_assign
        C = self._centroids()
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "idx", "ck"))
        rows = self._vecs(24)
        df1 = spark.createDataFrame(rows[:12],
                                    "vec_id long, embedding array<double>")
        df1.coalesce(1).write.parquet(src)

        def run():
            stream = (spark.readStream
                      .schema("vec_id long, embedding array<double>")
                      .option("maxFilesPerTrigger", 1).parquet(src))
            q = (streaming_ivf_assign(stream, C).writeStream
                 .format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .partitionBy("centroid")
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()

        run()
        got1 = spark.read.parquet(out)
        assert got1.count() == 12
        # second drop of files → index GROWS in place, exactly once
        spark.createDataFrame(rows[12:],
                              "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("append").parquet(src)
        run()
        got2 = spark.read.parquet(out)
        assert got2.count() == 24
        assert sorted(r["vec_id"] for r in got2.collect()) == list(range(24))
        # the partition layout IS the IVF candidate cut: a single-list probe
        # must scan only its directory (PartitionFilters, not a full read)
        import os
        dirs = {d for d in os.listdir(out) if d.startswith("centroid=")}
        assert dirs == {"centroid=0", "centroid=1", "centroid=2"}
        plan = (spark.read.parquet(out).filter("centroid = 1")
                ._jdf.queryExecution().executedPlan().toString())
        assert "PartitionFilters: [isnotnull(centroid" in plan
