"""Round-3 regression tests for the judge/advisor findings:

1. embed_neardup's scale path: cosine_neardup_pairs_bucketed must equal the
   exact all-pairs path on planted clones AND never stream rows through the
   driver (VERDICT wrong #1 / next-round #1).
2. ivf_topk centroid seeding must be partitioning/row-order independent
   (md5-bucket sample, not limit()) (VERDICT wrong #2).
3. write_parquet(format="iceberg"): non-catalog failures raise; catalog
   absence warns + downgrades; strict=True refuses the downgrade
   (VERDICT wrong #3).
4. stratified_sample: zero-candidate groups enter the exact fallback rather
   than vanishing (ADVICE low, sampling.py:76).
5. write_bucketed_table overwrite resolves db-qualified locations
   (ADVICE low, cube.py:363).
6. to_sql fac/ncr/npr render as gamma expressions matching the Python path
   (ADVICE low, expr.py:152).
7. knn_tiles routes its cache through the shared release registry
   (VERDICT wrong #4).
"""

import os
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
            .cache())


def _pairs_set(df):
    return {(r.ida, r.idb) for r in df.collect()}


class TestBucketedNeardup:
    def test_matches_exact_on_planted_clones(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import (
            cosine_neardup_pairs, cosine_neardup_pairs_bucketed)
        base = emb.filter("vec_id < 200")
        clones = base.select((F.col("vec_id") + 100000).alias("vec_id"),
                             F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"))
        corpus = base.unionByName(clones)
        exact = cosine_neardup_pairs(corpus, threshold=0.999)
        fast = cosine_neardup_pairs_bucketed(corpus, threshold=0.999)
        assert _pairs_set(fast) == _pairs_set(exact)
        assert fast.count() == 200  # one pair per clone

    def test_no_driver_pass(self, spark, emb, monkeypatch):
        """The old path iterated the corpus with toLocalIterator on the
        driver; the bucketed path must complete with it forbidden."""
        from gdalcubes_spark.pipeline.similarity import cosine_neardup_pairs_bucketed

        def _boom(self, *a, **k):
            raise AssertionError("driver pass: toLocalIterator called")

        base = emb.filter("vec_id < 100")
        clones = base.select((F.col("vec_id") + 100000).alias("vec_id"),
                             F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"))
        corpus = base.unionByName(clones)
        # patch the CONCRETE class (Spark 4: pyspark.sql.classic), not the ABC
        monkeypatch.setattr(type(corpus), "toLocalIterator", _boom)
        with pytest.raises(AssertionError, match="driver pass"):
            corpus.toLocalIterator()  # the patch is actually effective
        out = cosine_neardup_pairs_bucketed(corpus, threshold=0.999).collect()
        assert len(out) == 100

    def test_recall_vs_exact_at_095(self, spark):
        """Noisy near-dups with sims scattered in [0.95, 1): bucketed recall
        vs the exact path must be ≥ 0.95 (analytically ~0.999 at p=8,T=12)."""
        from gdalcubes_spark.pipeline.similarity import (
            cosine_neardup_pairs, cosine_neardup_pairs_bucketed)
        rng = np.random.default_rng(7)
        dim, n = 32, 150
        base = rng.standard_normal((n, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        # per-row noise scale tuned to land cosines around 0.95-0.995:
        # cos ≈ 1/sqrt(1 + s²·dim), so s ∈ [0.02, 0.055] at dim=32
        noise = rng.standard_normal((n, dim)) * rng.uniform(0.02, 0.055, (n, 1))
        near = base + noise
        rows = ([(int(i), base[i].tolist()) for i in range(n)]
                + [(int(i + 100000), near[i].tolist()) for i in range(n)])
        corpus = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
        exact = _pairs_set(cosine_neardup_pairs(corpus, threshold=0.95))
        fast = _pairs_set(cosine_neardup_pairs_bucketed(corpus, threshold=0.95))
        assert fast <= exact or not (fast - exact)  # no false positives (exact verify)
        assert len(exact) > 50  # the construction actually planted pairs
        recall = len(fast & exact) / len(exact)
        assert recall >= 0.95, f"recall {recall:.3f}"


class TestIvfSeedIndependence:
    def test_results_independent_of_layout(self, spark, emb):
        """Centroid seeding must be a pure function of ROWS (md5-bucket
        draw), so the whole approximate result is identical whether the
        corpus arrives sorted, shuffled, or partitioned differently —
        limit() seeding fails this on any clustered/sorted corpus."""
        from gdalcubes_spark.pipeline.similarity import ivf_topk
        corpus_sorted = emb.orderBy("vec_id").coalesce(1)
        corpus_shuffled = emb.orderBy(F.md5(F.col("vec_id").cast("string"))).repartition(7)
        queries = emb.filter("vec_id % 100 = 0")
        r1 = ivf_topk(corpus_sorted, queries, k=5, n_centroids=8, sample_rows=128)
        r2 = ivf_topk(corpus_shuffled, queries, k=5, n_centroids=8, sample_rows=128)
        a = sorted(map(tuple, r1.collect()))
        b = sorted(map(tuple, r2.collect()))
        assert a == b


class TestIcebergStrict:
    def _tiny_cube(self, spark):
        from gdalcubes_spark.cube import dummy_cube
        from gdalcubes_spark.grid import CubeView
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
        return dummy_cube(spark, v, fill=1.0)

    def test_catalog_absent_warns_and_downgrades(self, spark, tmp_path):
        c = self._tiny_cube(spark)
        p = str(tmp_path / "ice")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            c.write_parquet(p, format="iceberg")
        assert any("Iceberg catalog" in str(x.message) for x in w)
        assert spark.read.parquet(p).count() > 0  # parquet fallback landed

    def test_strict_raises_on_catalog_absent(self, spark, tmp_path):
        c = self._tiny_cube(spark)
        with pytest.raises(Exception):
            c.write_parquet(str(tmp_path / "ice2"), format="iceberg", strict=True)

    def test_non_catalog_failure_propagates(self, spark, tmp_path, monkeypatch):
        """With the catalog CONFIGURED (positive probe passes), any write
        failure — even one whose message mentions the catalog name — must
        propagate; the parquet downgrade exists only for catalog absence."""
        c = self._tiny_cube(spark)

        def _fail(self, *a, **k):
            raise RuntimeError("write failed in Catalog 'gdalcubes': boom")

        # patch the CONCRETE class (Spark 4: pyspark.sql.classic), not the ABC
        monkeypatch.setattr(type(c.df), "writeTo", _fail)
        spark.conf.set("spark.sql.catalog.gdalcubes",
                       "org.apache.iceberg.spark.SparkCatalog")
        try:
            with pytest.raises(RuntimeError, match="boom"):
                c.write_parquet(str(tmp_path / "ice3"), format="iceberg")
        finally:
            spark.conf.unset("spark.sql.catalog.gdalcubes")
        assert not os.path.exists(str(tmp_path / "ice3"))  # no silent parquet


class TestStratifiedZeroCandidates:
    def test_zero_candidate_groups_fall_back_exactly(self, spark):
        """oversample=0 makes EVERY group's candidate filter empty — the
        adversarial limit of the bug: pre-fix this returned 0 rows; the
        exactness contract says output is identical to the one-window form."""
        from gdalcubes_spark.pipeline.sampling import stratified_sample
        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source", "text")
        full = stratified_sample(docs, "source", 5, oversample=4)
        degenerate = stratified_sample(docs, "source", 5, oversample=0)
        a = sorted(r.doc_id for r in full.select("doc_id").collect())
        b = sorted(r.doc_id for r in degenerate.select("doc_id").collect())
        assert a == b and len(a) > 0


class TestBucketedTableDbQualified:
    def test_overwrite_db_qualified_twice(self, spark):
        from gdalcubes_spark.cube import dummy_cube
        from gdalcubes_spark.grid import CubeView
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, fill=2.0)
        spark.sql("CREATE DATABASE IF NOT EXISTS r3db")
        c.write_bucketed_table("r3db.chunks_r3", buckets=2)
        c.write_bucketed_table("r3db.chunks_r3", buckets=2)  # pre-fix: LOCATION_ALREADY_EXISTS
        assert spark.table("r3db.chunks_r3").count() == c.df.count()

    def test_orphaned_db_location_recovered(self, spark):
        from gdalcubes_spark.cube import dummy_cube
        from gdalcubes_spark.grid import CubeView
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=0, top=2,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=1.0, dy=1.0)
        c = dummy_cube(spark, v, fill=2.0)
        spark.sql("CREATE DATABASE IF NOT EXISTS r3db")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        orphan = os.path.join(wh, "r3db.db", "chunks_orphan")
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "junk"), "w") as f:
            f.write("x")
        c.write_bucketed_table("r3db.chunks_orphan", buckets=2)
        assert spark.table("r3db.chunks_orphan").count() == c.df.count()


class TestExprSqlGammaParity:
    def test_fac_ncr_npr_duckdb_matches_python(self):
        import duckdb
        from gdalcubes_spark.expr import compile_expr, to_sql
        cases = [("fac(x)", {"x": 4.0}), ("fac(x)", {"x": 2.5}),
                 ("ncr(n, r)", {"n": 6.0, "r": 2.0}), ("npr(n, r)", {"n": 6.0, "r": 2.0}),
                 ("ncr(n, r) + fac(x) * 2", {"n": 5.0, "r": 3.0, "x": 3.0})]
        for src, env in cases:
            sql = to_sql(src, {k: repr(v) for k, v in env.items()})
            got = duckdb.sql(f"SELECT {sql}").fetchone()[0]
            want = compile_expr(src)({k: np.array([v]) for k, v in env.items()})[0]
            assert got == pytest.approx(want), (src, env, sql)


class TestKnnCacheHygiene:
    def test_release_caches_frees_img(self, spark):
        from gdalcubes_spark.pipeline.dedup import release_caches
        from gdalcubes_spark.pipeline.knn import knn_tiles
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        imgs = spark.createDataFrame(
            [(i, float(i), float(i) + 1, float(i % 7), float(i % 7) + 1) for i in range(50)],
            ["image_id", "left", "right", "bottom", "top"])
        pts = spark.createDataFrame([(q, float(q % 9), float(q % 5)) for q in range(10)],
                                    ["qid", "x", "y"])
        out = knn_tiles(imgs, pts, k=3, cell=2.0)
        assert out.count() == 30
        release_caches()
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        assert after <= before, f"leaked cached RDDs: {after - before}"
