"""Round-4 fixes (r3 VERDICT/ADVICE):

1. asof_join carries the right payload ATOMICALLY (struct fill): a NULL value
   inside the matched right row stays NULL, never back-filled from an older
   right row, and all carried columns come from the same right row.
2. cosine_neardup_pairs hard-fails above max_rows (O(n^2) audit gate cannot
   be invoked on a corpus by accident).
3. encode_geotiff refuses geocentric/3D EPSG codes (4978/4979) instead of
   mislabeling them geographic.
4. connected_components checkpoint blocks live in their own registry:
   dedup.release_caches() (called unilaterally by knn_tiles and
   minhash_lsh_pairs) no longer frees an un-collected components result.
5. ivf/ivfpq with train_full_corpus=True run the distributed Lloyd's path.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestAsofNullablePayload:
    def test_null_in_matched_right_row_stays_null(self, spark):
        from gdalcubes_spark.pipeline.joins import asof_join
        left = spark.createDataFrame([(1, 3.0, "L")], "k long, ts double, lpay string")
        right = spark.createDataFrame(
            [(1, 1.0, 10, "x"), (1, 2.0, None, "y")],
            "k long, ts double, a int, b string")
        out = asof_join(left, right, on="k", ts="ts").collect()
        assert len(out) == 1
        r = out[0]
        # matched right row is (ts=2, a=NULL, b='y'): a must NOT come from ts=1
        assert r["a_r"] is None
        assert r["b_r"] == "y"
        assert r["lpay"] == "L"

    def test_no_match_keeps_nulls_and_columns_align(self, spark):
        from gdalcubes_spark.pipeline.joins import asof_join
        left = spark.createDataFrame([(1, 0.5, "L"), (2, 9.0, "M")],
                                     "k long, ts double, lpay string")
        right = spark.createDataFrame([(1, 1.0, 7, "x")],
                                      "k long, ts double, a int, b string")
        rows = {r["k"]: r for r in asof_join(left, right, on="k", ts="ts").collect()}
        assert rows[1]["a_r"] is None and rows[1]["b_r"] is None  # right ts after left
        assert rows[2]["a_r"] is None and rows[2]["b_r"] is None  # key absent

    def test_all_payload_columns_from_same_right_row(self, spark):
        """Two right rows where a per-column fill would mix them: (a=1,b=NULL)
        then (a=NULL,b=2). Atomic semantics → (NULL, 2), mixed would be (1, 2)."""
        from gdalcubes_spark.pipeline.joins import asof_join
        left = spark.createDataFrame([(1, 10.0)], "k long, ts double")
        right = spark.createDataFrame([(1, 1.0, 1, None), (1, 2.0, None, 2)],
                                      "k long, ts double, a int, b int")
        r = asof_join(left, right, on="k", ts="ts").collect()[0]
        assert r["a_r"] is None and r["b_r"] == 2


class TestCosineNeardupGuard:
    def test_guard_fires_above_max_rows(self, spark):
        from gdalcubes_spark.pipeline.similarity import cosine_neardup_pairs
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        with pytest.raises(ValueError, match="audit gate"):
            cosine_neardup_pairs(emb, max_rows=5)

    def test_explicit_cap_override_still_works(self, spark):
        from gdalcubes_spark.pipeline.similarity import cosine_neardup_pairs
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id < 40")
        out = cosine_neardup_pairs(emb, threshold=0.999, max_rows=100)
        assert out.columns == ["ida", "idb", "sim"]
        out.count()  # runs without the guard


class TestGeoTiffCrsGuard:
    def test_geocentric_epsg_rejected(self):
        import gdalcubes_spark.tiffcodec as tc
        a = np.arange(16 * 16, dtype=np.uint8).reshape(1, 16, 16)
        for epsg in (4978, 4979):
            with pytest.raises(ValueError, match="geocentric"):
                tc.encode_geotiff(a, tile=16, left=0, top=1, dx=1, dy=1, epsg=epsg)

    def test_decode_dy_is_north_up_negative(self):
        import gdalcubes_spark.tiffcodec as tc
        a = np.arange(16 * 16, dtype=np.uint8).reshape(1, 16, 16)
        b = tc.encode_geotiff(a, tile=16, left=2.0, top=50.0, dx=0.5, dy=0.5, epsg=4326)
        _, meta = tc.decode_geotiff(b)
        assert meta["dy"] == -0.5  # (left, dx, 0, top, 0, dy) geotransform slot


class TestCheckpointRegistrySeparation:
    def test_release_caches_does_not_kill_components_result(self, spark):
        from gdalcubes_spark.pipeline import components as C
        from gdalcubes_spark.pipeline.dedup import release_caches
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "ida long, idb long")
        comp = C.connected_components(pairs)
        assert len(C._CKPT_CACHED) > 0
        release_caches()  # what knn_tiles/minhash_lsh_pairs do unilaterally
        # the un-collected result must still be computable afterwards
        got = {(r["id"], r["component"]) for r in comp.collect()}
        assert (3, 1) in got and (22, 20) in got
        C.release_checkpoints()
        assert C._CKPT_CACHED == []


class TestIvfPartitionPruning:
    def test_coded_table_prunes_by_centroid(self, spark, tmp_path):
        """The docstring's 100 TB claim, executable: persist the IVF-PQ
        coded table partitioned by centroid; a probe-list filter reaches the
        FileScan as PartitionFilters (the candidate cut costs no corpus
        scan), and the pruned rows equal the in-memory filter."""
        from gdalcubes_spark.pipeline.similarity import ivfpq_encode
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id < 400")
        coded, C, CB, dim, dsub = ivfpq_encode(emb, n_centroids=8, m=4, ks=16)
        path = str(tmp_path / "coded")
        coded.write.partitionBy("centroid").parquet(path)
        disk = spark.read.parquet(path)
        probed = disk.filter(F.col("centroid").isin([1, 3]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "centroid" in plan.split("PartitionFilters")[1][:200]
        want = {r["vid"] for r in coded.filter(F.col("centroid").isin([1, 3])).collect()}
        got = {r["vid"] for r in probed.collect()}
        assert got == want and got  # non-empty and identical


class TestDistributedTrainPaths:
    def test_ivfpq_full_corpus_training_recall(self, spark):
        from gdalcubes_spark.pipeline.similarity import brute_topk, ivfpq_topk
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id < 300")
        q = emb.filter("vec_id % 50 = 0")
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in brute_topk(emb, q, k=3).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in ivfpq_topk(emb, q, k=3, n_centroids=8, n_probe=8,
                                      m=8, ks=16, refine=100,
                                      train_full_corpus=True).collect()}
        # every list probed AND refine·k >= corpus → the exact re-rank sees
        # every candidate, so recall must be exact regardless of PQ quality
        assert len(approx & exact) / len(exact) >= 0.99
