"""Round-6 optimization regression tests: the changed internals must stay
value-identical to their reference formulations.

- median finalize: dense-stack sort path == sparse pair-lexsort path
- reduce_time sort-gather median == np.nanmedian
- PNG filter-0 fast path roundtrip
- JPEG decode/encode identical across the optimized entropy loop
- cosine_neardup_pairs_bucketed: derived plane count keeps clone recall
"""

import numpy as np
import pytest

from gdalcubes_spark import codecs
from gdalcubes_spark.sources.raster_cube import _AggState


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
def test_median_finalize_sparse_fallback_identical(nb, nt):
    """Force the sparse fallback (budget=0) and compare against dense."""
    rng = np.random.default_rng(7)
    ny, nx = 9, 9
    items = {lt: _random_items(rng, nb, ny, nx, 11, 0.2) for lt in range(nt)}

    def run(budget):
        st = _AggState("median", (nb, nt, ny, nx))
        st._MEDIAN_DENSE_BYTES = budget
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
    from gdalcubes_spark.reducers import full_reduce
    rng = np.random.default_rng(3)
    v = rng.random((9, 2, 11, 5))
    v[rng.random(v.shape) < 0.25] = np.nan
    v[:, 0, 0, 0] = np.nan  # an all-NaN cell
    got = full_reduce("median", v)
    allnan = np.all(np.isnan(v), axis=0)
    ref = np.where(allnan, np.nan,
                   np.nanmedian(np.where(allnan[None, ...], 0.0, v), axis=0))
    assert np.array_equal(got.view(np.uint64), ref.view(np.uint64))


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
    """A pure-pair graph (already a star per component) must converge after
    ONE star round via the input-canonical-signature check, and a chain
    graph must still run full rounds and collapse to its minimum label."""
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
        assert calls["n"] == 1, f"pure pairs took {calls['n']} rounds"
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
