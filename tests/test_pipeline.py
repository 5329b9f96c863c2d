"""Training-data pipeline ops: dedup family, similarity search, text
analysis, multimodal plumbing — checked against brute-force numpy/python
oracles on the driver testdata."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_clones(spark, docs):
    """Originals + near-clone (one word appended) + exact clone, deterministic."""
    base = docs.filter("doc_id < 40")
    near = base.select((F.col("doc_id") + 10000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" zzzclone")).alias("text"))
    exact = base.select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    return base.select("doc_id", "text").unionByName(near).unionByName(exact).cache()


class TestText:
    def test_features_match_python(self, spark, docs):
        from gdalcubes_spark.pipeline.text import STOPWORDS, text_features
        got = text_features(docs.filter("doc_id < 20")).select(
            "doc_id", "text", "n_tokens", "stop_ratio", "fingerprint").toPandas()
        import hashlib
        for _, r in got.iterrows():
            toks = r["text"].split(" ")
            assert r["n_tokens"] == len(toks)
            sw = sum(toks.count(w) for w in STOPWORDS)
            assert abs(r["stop_ratio"] - round(sw / len(toks), 6)) < 1e-9
            assert r["fingerprint"] == hashlib.md5(r["text"].lower().strip().encode()).hexdigest()

    def test_rolling_fingerprints_detect_clone(self, spark, docs_with_clones):
        from gdalcubes_spark.pipeline.text import rolling_fingerprints
        fps = rolling_fingerprints(docs_with_clones, keep=4).toPandas()
        a = set(fps[fps.doc_id == 5]["fp"])
        b = set(fps[fps.doc_id == 10005]["fp"])  # near clone: one appended word
        c = set(fps[fps.doc_id == 6]["fp"])
        assert len(a & b) >= 3  # clones share most fingerprints
        assert len(a & c) == 0  # unrelated docs share none


class TestDedup:
    def test_exact(self, spark, docs_with_clones):
        from gdalcubes_spark.pipeline.dedup import exact_dedup
        kept = exact_dedup(docs_with_clones).toPandas()
        # exact clones collapse onto the original id; near clones survive
        assert len(kept) == 80  # 40 originals(+exact dup) + 40 near clones
        assert (kept["n_copies"] == 2).sum() == 40
        assert set(kept[kept.n_copies == 2]["doc_id"]) == set(range(40))

    def test_jaccard_vs_bruteforce(self, spark, docs_with_clones):
        from gdalcubes_spark.pipeline.dedup import jaccard_pairs
        got = jaccard_pairs(docs_with_clones, threshold=0.5).toPandas()
        pdf = docs_with_clones.toPandas()
        sets = {r.doc_id: set(r.text.lower().split()) for r in pdf.itertuples()}
        want = set()
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    want.add((a, b))
        assert set(zip(got["ida"], got["idb"])) == want
        assert len(want) >= 80  # each original pairs with its 2 clones

    def test_minhash_lsh_matches_exact_at_high_threshold(self, spark, docs_with_clones):
        from gdalcubes_spark.pipeline.dedup import jaccard_pairs_shingles_exact, minhash_lsh_pairs
        lsh = minhash_lsh_pairs(docs_with_clones, threshold=0.7).toPandas()
        exact = jaccard_pairs_shingles_exact(docs_with_clones, threshold=0.7).toPandas()
        assert set(zip(lsh["ida"], lsh["idb"])) == set(zip(exact["ida"], exact["idb"]))
        assert len(lsh) >= 40  # near/exact clone pairs detected

    @pytest.mark.parametrize("n", [1, 2, 3])
    def test_shingles_bound_words_bit_identical(self, spark, n):
        """The shingle and n-gram expressions split the words once per doc;
        they equal, bit for bit, the reference that re-splits the text
        inside the per-gram lambda."""
        from gdalcubes_spark.pipeline.dedup import _shingle_sql
        from gdalcubes_spark.pipeline.text import _grams_sql, _words_sql
        texts = ["", "one", "two words", "Three Words Here", "  leading spaces", "trailing spaces  ",
                 "repeated   inner  spaces", "MiXeD cAsE Words and MORE words", " ", None]
        d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

        def unbound(words, gram):
            return (f"transform(sequence(0, greatest(size({words}) - {n}, 0)), "
                    f"i -> {gram.format(f'slice({words}, i + 1, {n})')})")

        cases = {
            "shingles": (_shingle_sql("text", n),
                         unbound("split(lower(text), ' +')", "xxhash64(concat_ws(' ', {}))")),
            "md5_grams": (_grams_sql(_words_sql("text"), n, "md5"),
                          unbound("split(lower(trim(text)), '\\\\s+')", "md5(concat_ws(' ', {}))")),
            "grams": (_grams_sql(_words_sql("text"), n),
                      unbound("split(lower(trim(text)), '\\\\s+')", "concat_ws(' ', {})")),
        }
        for name, (got, want) in cases.items():
            rows = d.selectExpr("doc_id", f"{got} AS got", f"{want} AS want").collect()
            assert len(rows) == len(texts)
            for r in rows:
                assert r["got"] == r["want"], (name, texts[r["doc_id"]])

    def test_minhash_hash_family_pinned(self, spark, docs_with_clones):
        """The signature and band-key expressions give, bit for bit, the
        hashes of one Column per minhash: h_i = array_min(transform(
        shingles, s -> xxhash64(s, lit(i)))), band b = xxhash64(lit(b),
        h_4b .. h_4b+3). The band keys are read from the relation that
        minhash_lsh_pairs caches."""
        from gdalcubes_spark.pipeline.dedup import _lsh_arrays, _shingle_arrays, _signature_sql
        d = docs_with_clones.filter("doc_id IN (1, 2, 7, 10001, 20002)")
        words = F.split(F.lower(F.col("text")), " +")
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0)))
        sh = F.array_distinct(F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, 3)))))
        ref = d.select("doc_id", sh.alias("shingles")).select("doc_id", *[
            F.array_min(F.transform("shingles", (lambda i: lambda s: F.xxhash64(s, F.lit(i)))(i))).alias(f"h{i}")
            for i in range(64)])
        ref = ref.select("doc_id", *[F.col(f"h{i}") for i in range(64)], *[
            F.xxhash64(F.lit(b), *[F.col(f"h{b * 4 + r}") for r in range(4)]).alias(f"b{b}")
            for b in range(16)])
        want = {r["doc_id"]: ([r[f"h{i}"] for i in range(64)], [r[f"b{b}"] for b in range(16)])
                for r in ref.collect()}
        sig = _shingle_arrays(d, "doc_id", "text").selectExpr("doc_id", f"{_signature_sql(64)} AS _sig")
        got_sig = {r["doc_id"]: list(r["_sig"]) for r in sig.collect()}
        got_keys = {r["doc_id"]: list(r["_keys"]) for r in _lsh_arrays(d, "doc_id", "text", 3, 64, 16).collect()}
        assert len(want) == 5
        assert got_sig == {k: v[0] for k, v in want.items()}
        assert got_keys == {k: v[1] for k, v in want.items()}

    @staticmethod
    def _split_at_cache(plan: str):
        """(the plan's lines outside every InMemoryRelation, the text of
        each InMemoryRelation's cached plan)."""
        outside, cached, depth = [], [], None
        for ln in plan.splitlines():
            col = len(ln) - len(ln.lstrip(" :+-"))
            if depth is not None and col > depth:
                cached[-1].append(ln)
                continue
            depth = None
            outside.append(ln)
            if "InMemoryRelation" in ln:
                depth = col
                cached.append([])
        return outside, ["\n".join(c) for c in cached]

    def test_minhash_signature_computed_once_per_join_side(self, spark, docs_with_clones):
        """Cached, the signature is computed once per doc, in the cached
        relation beside the shingles: every join and verify side reads the
        cache, with no array_min above it. With the cache released, each
        side of the bucket self-join computes it once, in its own Project,
        never inlined into the Generate. Either way the shingle array is
        computed once per doc, not inside the per-hash lambda."""
        from gdalcubes_spark.pipeline.dedup import minhash_lsh_pairs, release_caches
        for n_hashes, bands in ((64, 16), (16, 16)):
            for cached in (True, False):
                pairs = minhash_lsh_pairs(docs_with_clones, threshold=0.7, n_hashes=n_hashes, bands=bands)
                if not cached:
                    release_caches()
                plan = pairs._jdf.queryExecution().optimizedPlan().toString()
                assert "array_min(transform(array_distinct(" not in plan
                outside, caches = self._split_at_cache(plan)
                gen = [ln for ln in outside if "posexplode(" in ln]
                assert len(gen) == 2 and not any("array_min(" in ln for ln in gen)
                lsh = [c for c in caches if "array_min(" in c]  # not the fixture's cache
                if cached:
                    assert len(lsh) == 4  # both join sides, both verify sides
                    assert all(c.count("array_min(") == 1 for c in lsh)
                    assert not any("array_min(" in ln for ln in outside)
                else:
                    assert lsh == []
                    assert sum(ln.count("array_min(") for ln in outside) == 2
        release_caches()

    def test_minhash_build_cost_flat_in_hashes(self, spark, docs_with_clones, monkeypatch):
        """Building the LSH plan costs as many py4j round trips at 128
        hashes / 32 bands as at 64 / 16. Memory commands are left out: py4j's
        finalizer thread sends them for proxies dropped by earlier work."""
        import py4j.protocol
        from py4j.clientserver import ClientServerConnection
        from gdalcubes_spark.pipeline.dedup import minhash_lsh_pairs, release_caches
        calls = {"n": 0}
        orig = ClientServerConnection.send_command

        def counting(self, command, *a, **k):
            if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
                calls["n"] += 1
            return orig(self, command, *a, **k)

        def build_cost(n_hashes, bands):
            release_caches()
            calls["n"] = 0
            monkeypatch.setattr(ClientServerConnection, "send_command", counting)
            minhash_lsh_pairs(docs_with_clones, threshold=0.7, n_hashes=n_hashes, bands=bands)
            monkeypatch.setattr(ClientServerConnection, "send_command", orig)
            return calls["n"]

        build_cost(64, 16)  # warm-up
        small, big = build_cost(64, 16), build_cost(128, 32)
        release_caches()
        assert 0 < small < 1000
        assert small == big

    def test_simhash_near_pairs(self, spark, docs_with_clones):
        from gdalcubes_spark.pipeline.dedup import simhash_near_pairs
        pairs = simhash_near_pairs(docs_with_clones, max_hamming=4).toPandas()
        got = set(zip(pairs["ida"], pairs["idb"]))
        # exact clones have identical simhash → hamming 0
        for d in range(40):
            assert (d, d + 20000) in got


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet").cache()

    def _brute_numpy(self, emb, qids, k):
        pdf = emb.toPandas()
        ids = pdf["vec_id"].to_numpy()
        E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        E = E / np.linalg.norm(E, axis=1, keepdims=True)
        out = {}
        for q in qids:
            qv = E[ids == q][0]
            sims = E @ qv
            sims[ids == q] = -np.inf
            top = np.argsort(-sims, kind="stable")[:k]
            out[q] = list(ids[top])
        return out

    def test_brute_topk(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import brute_topk
        queries = emb.filter("vec_id % 100 = 0")
        got = brute_topk(emb, queries, k=5).toPandas()
        qids = [r.vec_id for r in queries.select("vec_id").collect()]
        want = self._brute_numpy(emb, qids, 5)
        for q in qids:
            g = got[got.query_id == q].sort_values("sim", ascending=False)["neighbor_id"].tolist()
            assert set(g) == set(want[q]), q

    def test_lsh_and_ivf_recall(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import brute_topk, hyperplane_lsh_topk, ivf_topk
        queries = emb.filter("vec_id % 100 = 0")
        truth = brute_topk(emb, queries, k=5).toPandas()
        tset = set(zip(truth["query_id"], truth["neighbor_id"]))
        # random embeddings have low-sim true neighbors — LSH needs short
        # codes + many tables here (collision prob (1-θ/π)^planes per table)
        lsh = hyperplane_lsh_topk(emb, queries, k=5, n_planes=4, n_tables=16).toPandas()
        lrecall = len(set(zip(lsh["query_id"], lsh["neighbor_id"])) & tset) / len(tset)
        ivf = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4).toPandas()
        irecall = len(set(zip(ivf["query_id"], ivf["neighbor_id"])) & tset) / len(tset)
        assert lrecall >= 0.5, lrecall
        assert irecall >= 0.5, irecall

    def test_pq_codes_shape_and_compression(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import _pq_train, pq_encode
        C, dim, dsub = _pq_train(emb, m=8, ks=16, iters=4, seed=11,
                                 sample_rows=4096, id_col="vec_id", vec_col="embedding")
        assert C.shape == (8, 16, dsub) and 8 * dsub >= dim
        coded = pq_encode(emb, C, dim).toPandas()
        assert len(coded) == emb.count()
        assert all(len(b) == 8 for b in coded["codes"])  # 8 bytes/vector vs 4·dim
        codes = np.frombuffer(b"".join(coded["codes"]), dtype=np.uint8)
        assert codes.max() < 16  # codes index the ks=16 codebook

    def test_pq_recall_with_rerank(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import brute_topk, pq_topk
        queries = emb.filter("vec_id % 100 = 0")
        truth = brute_topk(emb, queries, k=5).toPandas()
        tset = set(zip(truth["query_id"], truth["neighbor_id"]))
        got = pq_topk(emb, queries, k=5, m=8, ks=32, refine=8).toPandas()
        # exact re-rank → sims of agreeing pairs must MATCH brute exactly
        tmap = {(q, n): s for q, n, s in truth.itertuples(index=False)}
        for q, n, s in got.itertuples(index=False):
            if (q, n) in tmap:
                assert abs(s - tmap[(q, n)]) < 1e-9
        recall = len(set(zip(got["query_id"], got["neighbor_id"])) & tset) / len(tset)
        assert recall >= 0.6, recall

    def test_ivfpq_recall_and_exact_sims(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import brute_topk, ivfpq_topk
        queries = emb.filter("vec_id % 100 = 0")
        truth = brute_topk(emb, queries, k=5).toPandas()
        tset = set(zip(truth["query_id"], truth["neighbor_id"]))
        got = ivfpq_topk(emb, queries, k=5, n_centroids=8, n_probe=6,
                         m=8, ks=32, refine=8).toPandas()
        assert (got.groupby("query_id").size() <= 5).all()
        tmap = {(q, n): s for q, n, s in truth.itertuples(index=False)}
        for q, n, s in got.itertuples(index=False):
            if (q, n) in tmap:
                assert abs(s - tmap[(q, n)]) < 1e-9  # exact re-rank
        recall = len(set(zip(got["query_id"], got["neighbor_id"])) & tset) / len(tset)
        assert recall >= 0.5, recall

    def test_pq_adc_only_path(self, spark, emb):
        from gdalcubes_spark.pipeline.similarity import pq_topk
        queries = emb.filter("vec_id % 200 = 0")
        got = pq_topk(emb, queries, k=3, m=8, ks=16, refine=0).toPandas()
        nq = queries.count()
        assert len(got) == 3 * nq
        assert (got.groupby("query_id").size() == 3).all()
        # deterministic: same seed, same result
        again = pq_topk(emb, queries, k=3, m=8, ks=16, refine=0).toPandas()
        a = got.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True)
        b = again.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True)
        assert a.equals(b)


class TestKnnTiles:
    def test_matches_bruteforce(self, spark):
        from gdalcubes_spark.pipeline.knn import knn_tiles
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(left0=0, top0=8, tile_dx=1.0, tile_dy=1.0, gx=8, gy=8, ntime=1,
                          tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        imgs = generate_images(spark, 64, lay).select("image_id", "left", "right", "bottom", "top").cache()
        pts = spark.createDataFrame(
            [(1, 0.4, 7.6), (2, 4.01, 3.99), (3, 7.9, 0.1), (4, 3.5, 3.5)],
            "qid long, x double, y double")
        got = knn_tiles(imgs, pts, k=3, cell=1.0).toPandas()
        # brute force oracle
        ipdf = imgs.toPandas()
        for qid, x, y in [(1, 0.4, 7.6), (2, 4.01, 3.99), (3, 7.9, 0.1), (4, 3.5, 3.5)]:
            cx = (ipdf["left"] + ipdf["right"]) / 2
            cy = (ipdf["bottom"] + ipdf["top"]) / 2
            d = np.sqrt((cx - x) ** 2 + (cy - y) ** 2)
            order = sorted(zip(d.round(9), ipdf["image_id"]))[:3]
            want = [img for _, img in order]
            g = got[got.qid == qid].sort_values(["dist", "image_id"])["image_id"].tolist()
            assert g == want, (qid, g, want)

    def test_sparse_corpus_keeps_zero_candidate_queries(self, spark):
        """Regression: queries whose ring matches NO occupied cell used to be
        derived from the join output and silently dropped (never reaching the
        brute-force fallback). Tiles sit in one corner; queries far away must
        still come back with exact k results."""
        from gdalcubes_spark.pipeline.knn import knn_tiles
        imgs = spark.createDataFrame(
            [(i, float(i), float(i) + 1.0, 0.0, 1.0) for i in range(4)],
            "image_id long, left double, right double, bottom double, top double")
        pts = spark.createDataFrame(
            [(1, 0.5, 0.5),      # next to the tiles — resolves at r=1
             (2, 50.0, 50.0),    # ~70 cells away: no candidate until far past max_ring
             (3, 200.0, 0.5)],   # ditto, on-axis
            "qid long, x double, y double")
        got = knn_tiles(imgs, pts, k=2, cell=1.0, max_ring=4).toPandas()
        assert sorted(got["qid"].unique().tolist()) == [1, 2, 3]
        assert (got.groupby("qid").size() == 2).all()
        ipdf = imgs.toPandas()
        for qid, x, y in [(1, 0.5, 0.5), (2, 50.0, 50.0), (3, 200.0, 0.5)]:
            cx = (ipdf["left"] + ipdf["right"]) / 2
            cy = (ipdf["bottom"] + ipdf["top"]) / 2
            d = np.sqrt((cx - x) ** 2 + (cy - y) ** 2)
            want = [img for _, img in sorted(zip(d.round(9), ipdf["image_id"]))[:2]]
            g = got[got.qid == qid].sort_values(["dist", "image_id"])["image_id"].tolist()
            assert g == want, (qid, g, want)


class TestMultimodal:
    def test_decode_features(self, spark):
        from gdalcubes_spark.pipeline.multimodal import decode_features
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(gx=2, gy=2, ntime=1, tile_w=16, tile_h=16, nb=2, fmts=("png", "jpeg"))
        imgs = generate_images(spark, 4, lay)
        feats = decode_features(imgs, resize=(4, 4)).toPandas().sort_values("image_id")
        assert len(feats) == 4
        for i, (_, r) in enumerate(feats.iterrows()):
            want = lay.decoded_pixels(i).astype("float64")
            assert (r["nb"], r["h"], r["w"]) == (2, 16, 16)
            assert np.allclose(r["band_means"], want.mean(axis=(1, 2)))
            assert len(r["thumb"]) == 2 * 4 * 4

    def test_audio_pcm_and_stub(self, spark):
        from gdalcubes_spark.pipeline.multimodal import audio_features
        t = np.arange(1600)
        pcm = (np.sin(t * 0.1) * 20000).astype("<i2").tobytes()
        df = spark.createDataFrame([("a", bytearray(pcm))], "clip_id string, pcm binary")
        r = audio_features(df).toPandas().iloc[0]
        assert r["n_samples"] == 1600 and 0.3 < r["rms"] < 0.6
        bad = spark.createDataFrame([("b", bytearray(b"fLaC____"))], "clip_id string, pcm binary")
        with pytest.raises(Exception, match="STUB|NotImplemented"):
            audio_features(bad).collect()

    def test_audio_wav_container(self, spark):
        # genuine RIFF/WAVE payloads: same features as the raw-PCM path,
        # stereo downmixed, float32 wavs accepted, exotic formats stub out
        from gdalcubes_spark.pipeline.multimodal import audio_features, decode_wav, encode_wav
        t = np.arange(1600)
        mono = (np.sin(t * 0.1) * 20000).astype(np.int16)
        wav = encode_wav(mono, 16000)
        back, rate = decode_wav(wav)
        assert rate == 16000 and np.array_equal(back[0], mono)
        df = spark.createDataFrame(
            [("wav", bytearray(wav)), ("raw", bytearray(mono.tobytes())),
             ("stereo", bytearray(encode_wav(np.stack([mono, mono])))),
             ("f32", bytearray(encode_wav((mono / 32768.0).astype(np.float32))))],
            "clip_id string, pcm binary")
        got = audio_features(df).toPandas().set_index("clip_id")
        assert (got["n_samples"] == 1600).all()
        assert abs(got.loc["wav", "rms"] - got.loc["raw", "rms"]) < 1e-12
        assert abs(got.loc["stereo", "rms"] - got.loc["raw", "rms"]) < 1e-12
        assert abs(got.loc["f32", "rms"] - got.loc["raw", "rms"]) < 1e-6
        # 8-bit PCM (format 1 / bits 8) is outside the honest seam → stub
        import struct
        odd = encode_wav(mono)[:20] + struct.pack("<HHIIHH", 1, 1, 16000, 16000, 1, 8) \
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4
        bad = spark.createDataFrame([("u8", bytearray(odd))], "clip_id string, pcm binary")
        with pytest.raises(Exception, match="STUB|NotImplemented"):
            audio_features(bad).collect()

    def test_audio_spectral_features(self, spark):
        """Pure sine at f0 → dominant ≈ centroid ≈ f0 (FFT-exact when the
        tone falls on a bin: 8192 samples at 16 kHz, f0 = 500 Hz = bin 256);
        a higher tone moves both upward; silence reports 0."""
        from gdalcubes_spark.pipeline.multimodal import audio_features, encode_wav
        sr, n = 16000, 8192
        t = np.arange(n) / sr

        def tone(f):
            return encode_wav((np.sin(2 * np.pi * f * t) * 20000).astype(np.int16), sr)

        df = spark.createDataFrame(
            [("lo", bytearray(tone(500.0))), ("hi", bytearray(tone(3000.0))),
             ("silence", bytearray(np.zeros(n, dtype="<i2").tobytes()))],
            "clip_id string, pcm binary")
        got = audio_features(df, sample_rate=sr).toPandas().set_index("clip_id")
        assert abs(got.loc["lo", "dominant_hz"] - 500.0) < 2.0
        assert abs(got.loc["hi", "dominant_hz"] - 3000.0) < 2.0
        assert abs(got.loc["lo", "spectral_centroid_hz"] - 500.0) < 25.0
        assert got.loc["hi", "spectral_centroid_hz"] > got.loc["lo", "spectral_centroid_hz"]
        assert got.loc["silence", "dominant_hz"] == 0.0
        assert got.loc["silence", "spectral_centroid_hz"] == 0.0

    def test_wav_container_rate_wins_over_argument(self, spark):
        """A 44.1 kHz RIFF clip analyzed with the DEFAULT sample_rate=16000
        must still report Hz from the container's own rate (pre-fix: scaled
        by 16000/44100)."""
        from gdalcubes_spark.pipeline.multimodal import audio_features, encode_wav
        sr, n, f0 = 44100, 44100 // 2, 1000.0
        t = np.arange(n) / sr
        wav = encode_wav((np.sin(2 * np.pi * f0 * t) * 20000).astype(np.int16), sr)
        df = spark.createDataFrame([("c", bytearray(wav))], "clip_id string, pcm binary")
        r = audio_features(df).toPandas().iloc[0]  # note: default sample_rate
        assert abs(r["dominant_hz"] - f0) < 5.0

    def test_video_frame_sampling(self, spark):
        from gdalcubes_spark.pipeline.multimodal import sample_frames
        w, h, n = 4, 4, 25
        frames = np.concatenate([np.full(w * h, i, dtype=np.uint8) for i in range(n)]).tobytes()
        df = spark.createDataFrame([("v", bytearray(frames), w, h, n)],
                                   "video_id string, frames binary, w int, h int, n_frames int")
        r = sample_frames(df, every_n=10).toPandas().sort_values("frame_idx")
        assert list(r["frame_idx"]) == [0, 10, 20]
        assert list(r["frame_mean"]) == [0.0, 10.0, 20.0]


class TestImageQuality:
    def test_ssim_identity_and_monotonicity(self):
        from gdalcubes_spark.pipeline.multimodal import ssim_uniform
        rng = np.random.default_rng(9)
        x = rng.uniform(0, 255, (48, 48))
        assert abs(ssim_uniform(x, x) - 1.0) < 1e-12
        mild = ssim_uniform(x, np.clip(x + rng.normal(0, 8, x.shape), 0, 255))
        harsh = ssim_uniform(x, np.clip(x + rng.normal(0, 60, x.shape), 0, 255))
        assert 1.0 > mild > harsh > 0.0
        # constant-vs-constant: structural term saturates to 1
        assert abs(ssim_uniform(np.full((32, 32), 80.0), np.full((32, 32), 80.0)) - 1.0) < 1e-12

    def test_image_quality_probe(self, spark):
        from gdalcubes_spark.pipeline.multimodal import image_quality
        from gdalcubes_spark.synth import ImageLayout, generate_images
        lay = ImageLayout(gx=2, gy=2, ntime=1, tile_w=32, tile_h=32, nb=2,
                          fmts=("raw",))
        got = image_quality(generate_images(spark, 4, lay), quality=35).toPandas()
        assert len(got) == 4
        # synthetic ramps are smooth → harsh recompression still decent
        assert (got["psnr"] > 20).all() and (got["psnr"] <= 99).all()
        assert (got["ssim"] > 0.5).all() and (got["ssim"] <= 1.0).all()
        # higher quality → better scores, same images
        hi = image_quality(generate_images(spark, 4, lay), quality=90).toPandas()
        m = got.merge(hi, on="image_id", suffixes=("_lo", "_hi"))
        assert (m["psnr_hi"] >= m["psnr_lo"] - 1e-9).all()
        assert (m["ssim_hi"] >= m["ssim_lo"] - 1e-9).all()


class TestDistributedKmeans:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet").cache()

    def test_matches_local_lloyds_exactly(self, spark, emb):
        """The distributed pass must reproduce a local numpy Lloyd's run
        from the SAME seeded init over the same (full) data."""
        from gdalcubes_spark.pipeline.clustering import distributed_kmeans
        from gdalcubes_spark.pipeline.similarity import _norm_rows
        k, iters, seed = 8, 4, 42
        C = distributed_kmeans(emb, k=k, iters=iters, seed=seed)
        # local reference: same md5-bucket seed sample, same init draw
        from gdalcubes_spark.pipeline.sampling import _BUCKETS, _hash_bucket
        import pyspark.sql.functions as F
        n_total = emb.count()
        frac = min(1.0, 4.0 * 4096 / n_total)
        sample = (emb.select("vec_id", "embedding")
                  .withColumn("_hb", _hash_bucket("vec_id"))
                  .filter(F.col("_hb") < int(frac * _BUCKETS))
                  .orderBy("_hb", "vec_id").limit(4096).select("embedding").toPandas())
        X0 = _norm_rows(np.stack(sample["embedding"].to_numpy()).astype("float64"))
        rng = np.random.default_rng(seed)
        ref = X0[rng.choice(len(X0), size=k, replace=False)].copy()
        full = _norm_rows(np.stack(emb.toPandas()["embedding"].to_numpy()).astype("float64"))
        for _ in range(iters):
            a = np.argmax(full @ ref.T, axis=1)
            for j in range(k):
                m = full[a == j]
                if len(m):
                    ref[j] = m.mean(axis=0)
            ref = _norm_rows(ref)
        assert np.allclose(C, ref, atol=1e-9)

    def test_assignment_and_balance(self, spark, emb):
        from gdalcubes_spark.pipeline.clustering import distributed_kmeans, kmeans_assign
        C = distributed_kmeans(emb, k=8, iters=3)
        asn = kmeans_assign(emb, C).toPandas()
        assert len(asn) == emb.count()
        assert asn["centroid"].between(0, 7).all()
        assert asn["centroid"].nunique() >= 4  # no collapse on random data
        # deterministic across partitionings
        again = kmeans_assign(emb.repartition(11), C).toPandas()
        a = asn.sort_values("vid").reset_index(drop=True)
        b = again.sort_values("vid").reset_index(drop=True)
        assert a.equals(b)
