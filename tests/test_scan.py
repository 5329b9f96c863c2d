"""End-to-end tests of the raster_cube scan path: codecs, SRS math, synthetic
image table, chunk-grid equi-join, decode/warp/aggregate — checked against an
independent per-cell numpy oracle (FIXTURES.md §5)."""

import numpy as np
import pytest

from gdalcubes_spark import codecs, srs
from gdalcubes_spark.grid import AGG_METHODS, ChunkGrid, CubeView
from gdalcubes_spark.sources.raster_cube import DECOMPOSABLE, ImageMask, raster_cube
from gdalcubes_spark.synth import ImageLayout, band_names, generate_images


class TestCodecs:
    def test_raw_roundtrip(self):
        a = (np.arange(3 * 8 * 9) % 256).astype(np.uint8).reshape(3, 8, 9)
        assert np.array_equal(codecs.decode(codecs.encode(a, "raw"), "raw"), a)

    def test_png_roundtrip_grey_rgb(self):
        g = (np.arange(16 * 16) % 251).astype(np.uint8).reshape(1, 16, 16)
        assert np.array_equal(codecs.decode(codecs.encode(g, "png"), "png"), g)
        rgb = (np.arange(3 * 5 * 7) % 256).astype(np.uint8).reshape(3, 5, 7)
        assert np.array_equal(codecs.decode(codecs.encode(rgb, "png"), "png"), rgb)

    def test_jpeg_psnr(self):
        """REAL DCT+Huffman round trip (in-repo baseline codec) must clear
        the PSNR≥40dB lossy acceptance bar (BASELINE.json) even on white
        noise — the worst case for transform coding."""
        rng = np.random.default_rng(42)
        a = rng.integers(0, 256, size=(1, 64, 64), dtype=np.uint8)
        enc = codecs.encode(a, "jpeg")
        assert enc[:2] == b"\xff\xd8"  # genuine JFIF, not a stub container
        d = codecs.decode(enc, "jpeg").astype(np.float64)
        mse = np.mean((d - a.astype(np.float64)) ** 2)
        psnr = 10 * np.log10(255**2 / max(mse, 1e-12))
        assert psnr >= 40.0, psnr

    def test_jpeg_rgb_and_420(self):
        from gdalcubes_spark.jpegcodec import decode_baseline, encode_baseline
        yy, xx = np.mgrid[0:37, 0:51]
        img = np.stack([(yy * 3 + xx) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256]).astype(np.uint8)
        for sub in ("444", "420"):
            d = decode_baseline(encode_baseline(img, quality=95, subsampling=sub))
            assert d.shape == img.shape
            mse = np.mean((d.astype(float) - img.astype(float)) ** 2)
            assert 10 * np.log10(255**2 / max(mse, 1e-12)) >= 40.0, sub

    def test_jpeg_multiband_pack_and_legacy(self):
        # 2-band → band-sequential pack of real greyscale JFIFs
        a = (np.arange(2 * 16 * 16) % 256).astype(np.uint8).reshape(2, 16, 16)
        enc = codecs.encode(a, "jpeg")
        assert enc[:4] == b"GCJM"
        d = codecs.decode(enc, "jpeg")
        assert d.shape == a.shape
        # legacy stub payloads from round-1/2 checkpoints still decode
        legacy = codecs._JPEG_MAGIC + codecs._raw_encode(a)
        assert np.array_equal(codecs.decode(legacy, "jpeg"), a)

    def test_progressive_jpeg_decodes(self):
        # SOF2 is a supported scan input since round 4
        from gdalcubes_spark.jpegcodec import encode_progressive
        a = (np.arange(32 * 32) % 256).astype(np.uint8).reshape(1, 32, 32)
        out = codecs.decode(encode_progressive(a, quality=92), "jpeg")
        assert out.shape == a.shape

    def test_phash_deterministic(self):
        a = (np.arange(64 * 64) % 256).astype(np.uint8).reshape(1, 64, 64)
        assert codecs.phash64(a) == codecs.phash64(a.copy())
        assert codecs.phash64(a) != codecs.phash64(255 - a)


class TestSrs:
    def test_central_meridian_easting(self):
        e, n = srs.geodetic_to_utm(9.0, 50.0, zone=32)
        assert abs(e - 500000.0) < 1e-6
        assert 5500000 < n < 5600000

    def test_roundtrip(self):
        lon = np.linspace(6.01, 11.99, 40)
        lat = np.linspace(47.01, 54.99, 40)
        e, n = srs.geodetic_to_utm(lon, lat, zone=32)
        lon2, lat2 = srs.utm_to_geodetic(e, n, zone=32)
        assert np.allclose(lon, lon2, atol=1e-9)
        assert np.allclose(lat, lat2, atol=1e-9)

    def test_known_point(self):
        # UTM 32N of (lat=52, lon=7): well-known reference ≈ (362705.7, 5762926.8)
        e, n = srs.geodetic_to_utm(7.0, 52.0, zone=32)
        assert abs(e - 362705.7) < 2.0
        assert abs(n - 5762926.8) < 2.0


LAYOUT = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                     ntime=3, tile_w=16, tile_h=16, nb=2, fmts=("png", "raw"))


def scan_view(agg="first", resampling="near"):
    return CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                           t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=0.25, dy=0.25,
                           aggregation=agg, resampling=resampling)


def oracle_cell_values(layout: ImageLayout, n_images: int, view: CubeView, agg: str):
    """Independent per-cell oracle: nearest sampling of the synthetic pattern."""
    out = np.full((layout.nb, view.nt, view.ny, view.nx), np.nan)
    state = {}
    for i in range(n_images):
        p = layout.params(i)
        it = p["tt"]  # dt_days=1, layout times align with view slices
        if not (0 <= it < view.nt):
            continue
        arr = layout.decoded_pixels(i).astype("float64")
        pdx = (p["right"] - p["left"]) / layout.tile_w
        pdy = (p["top"] - p["bottom"]) / layout.tile_h
        for iy in range(view.ny):
            ycen = view.top - (iy + 0.5) * view.dy
            py = int(np.floor((p["top"] - ycen) / pdy))
            if not (0 <= py < layout.tile_h):
                continue
            for ix in range(view.nx):
                xcen = view.left + (ix + 0.5) * view.dx
                px = int(np.floor((xcen - p["left"]) / pdx))
                if not (0 <= px < layout.tile_w):
                    continue
                for b in range(layout.nb):
                    v = arr[b, py, px]
                    key = (b, it, iy, ix)
                    state.setdefault(key, []).append((i, v))
    # count_images is per image touching the cell here; the scan counts per
    # image touching the chunk slice, so the two agree only when no image
    # crosses a chunk border. count_values assumes every cell of a touched
    # slice is covered.
    fold = {"first": lambda vs: vs[0], "last": lambda vs: vs[-1], "none": lambda vs: vs[-1],
            "mean": np.mean, "median": np.median, "min": min, "max": max, "sum": sum,
            "count_images": len, "count_values": len}[agg]
    for (b, it, iy, ix), vals in state.items():
        vals.sort()  # image order
        out[b, it, iy, ix] = fold([v for _, v in vals])
    return out


class TestRasterCube:
    N = 2 * 2 * 3  # one image per tile per time step

    @pytest.fixture(scope="class")
    def images(self, spark):
        return generate_images(spark, self.N, LAYOUT).cache()

    def test_first_matches_oracle(self, spark, images):
        v = scan_view("first")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)
        c = raster_cube(images, v, band_names(LAYOUT), chunking=g)
        got = c.collect_array()
        want = oracle_cell_values(LAYOUT, self.N, v, "first")
        assert got.shape == want.shape
        assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1))

    def test_full_coverage_no_nan(self, spark, images):
        v = scan_view("first")
        c = raster_cube(images, v, band_names(LAYOUT),
                        chunking=ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=16, cx=16))
        a = c.collect_array()
        assert not np.any(np.isnan(a))  # layout tiles the whole view

    def test_overlap_median_matches_oracle(self, spark):
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=2, tile_w=16, tile_h=16, nb=1, fmts=("raw",), overlap=0.25)
        n = 8
        imgs = generate_images(spark, n, lay)
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.5, dy=0.5,
                            aggregation="median", resampling="near")
        c = raster_cube(imgs, v, band_names(lay),
                        chunking=ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4))
        got = c.collect_array()
        want = oracle_cell_values(lay, n, v, "median")
        assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1))

    def test_salted_scan_equals_unsalted(self, spark):
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=2, tile_w=8, tile_h=8, nb=1, fmts=("raw",), hot_every=3)
        n = 24  # hot_every=3 → 8 images piled on tile (0,0,0): skew
        imgs = generate_images(spark, n, lay)
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.5, dy=0.5,
                            aggregation="mean", resampling="near")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4)
        plain = raster_cube(imgs, v, band_names(lay), chunking=g).collect_array()
        salted = raster_cube(imgs, v, band_names(lay), chunking=g, salt=4).collect_array()
        assert np.allclose(np.nan_to_num(plain, nan=-1), np.nan_to_num(salted, nan=-1))

    def test_salted_first_order_correct(self, spark):
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=1, gy=1,
                          ntime=1, tile_w=8, tile_h=8, nb=1, fmts=("raw",))
        n = 7  # all 7 images cover the same tile → first = img_0
        imgs = generate_images(spark, n, lay)
        v = CubeView.create(srs="EPSG:4326", left=0, right=2, bottom=2, top=4,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=0.25, dy=0.25,
                            aggregation="first", resampling="near")
        g = ChunkGrid(nt=1, ny=8, nx=8, ct=1, cy=8, cx=8)
        plain = raster_cube(imgs, v, band_names(lay), chunking=g).collect_array()
        salted = raster_cube(imgs, v, band_names(lay), chunking=g, salt=3).collect_array()
        assert np.allclose(plain, salted)

    @pytest.mark.parametrize("agg", ["median", "none"])
    def test_salt_ignored_warns(self, spark, images, agg):
        v = scan_view(agg)
        with pytest.warns(UserWarning, match="salt=4 ignored"):
            raster_cube(images, v, band_names(LAYOUT), salt=4)

    def test_median_scan_reduce_raise_no_user_warning(self, spark, images):
        """Grouped UDFs carry no partial type hints, so PySpark's "Cannot
        infer the eval type from type hints" UserWarning never fires while a
        median scan → reduce_time is built and collected."""
        import warnings
        v = scan_view("median")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            c = raster_cube(images, v, band_names(LAYOUT), chunking=g)
            got = c.reduce_time(*[f"median({b})" for b in band_names(LAYOUT)]).collect_array()
            scan = c.collect_array()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN cells
            want = np.nanmedian(scan, axis=1, keepdims=True)
        assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1))

    def test_geotiff_inventory_scan_exact(self, spark):
        # fmt='tif' payloads (real tiled-Deflate GeoTIFF bytes from
        # tiffcodec.py) flow through the distributed scan losslessly
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2,
                          ntime=2, tile_w=16, tile_h=16, nb=2, fmts=("tif",))
        n = 8
        imgs = generate_images(spark, n, lay)
        v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                            t0="2021-01-01", t1="2021-01-02", dt="P1D", dx=0.25, dy=0.25,
                            aggregation="first", resampling="near")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)
        got = raster_cube(imgs, v, band_names(lay), chunking=g).collect_array()
        want = oracle_cell_values(lay, n, v, "first")
        assert not np.any(np.isnan(got))
        assert np.allclose(got, want)  # lossless format → exact

    def test_gif_bmp_inventory_scan_exact(self, spark):
        # fmt='gif'/'bmp' payloads decode losslessly through the scan:
        # the synth ramp has <=256 unique colors per image, so the GIF
        # palette is exact; bmp is unconditionally lossless. Pinning the
        # inventory band count resolves the palette/collapse ambiguity.
        for fmt, nb in (("gif", 1), ("gif", 3), ("bmp", 3)):
            lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0,
                              gx=2, gy=2, ntime=2, tile_w=16, tile_h=16,
                              nb=nb, fmts=(fmt,))
            n = 8
            imgs = generate_images(spark, n, lay)
            v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0,
                                top=4, t0="2021-01-01", t1="2021-01-02",
                                dt="P1D", dx=0.25, dy=0.25,
                                aggregation="first", resampling="near")
            g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=8, cx=8)
            got = raster_cube(imgs, v, band_names(lay),
                              chunking=g).collect_array()
            want = oracle_cell_values(lay, n, v, "first")
            assert not np.any(np.isnan(got)), (fmt, nb)
            assert np.allclose(got, want), (fmt, nb)

    def test_mask(self, spark, images):
        v = scan_view("first")
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=16, cx=16)
        # mask band B01 values below 128 → those pixels NaN in every band
        c = raster_cube(images, v, band_names(LAYOUT), chunking=g,
                        mask=ImageMask("B01", vmin=-0.5, vmax=127.5))
        a = c.collect_array()
        ref = raster_cube(images, v, band_names(LAYOUT), chunking=g).collect_array()
        masked = ref[0] < 128
        assert np.all(np.isnan(a[0][masked]))
        assert np.all(np.isnan(a[1][masked]))
        assert np.allclose(a[1][~masked], ref[1][~masked])

    def test_bilinear_smooth_gradient(self, spark):
        # constant-gradient pattern: bilinear interpolation reproduces the
        # linear ramp exactly at any sample point (away from edges)
        lay = ImageLayout(left0=0.0, top0=4.0, tile_dx=4.0, tile_dy=4.0, gx=1, gy=1,
                          ntime=1, tile_w=32, tile_h=32, nb=1, fmts=("raw",))
        imgs = generate_images(spark, 1, lay)
        v = CubeView.create(srs="EPSG:4326", left=0.5, right=3.5, bottom=0.5, top=3.5,
                            t0="2021-01-01", t1="2021-01-01", dt="P1D", dx=0.03, dy=0.03,
                            aggregation="first", resampling="bilinear")
        c = raster_cube(imgs, v, band_names(lay),
                        chunking=ChunkGrid(nt=1, ny=v.ny, nx=v.nx, ct=1, cy=64, cx=64))
        a = c.collect_array()[0, 0]
        p = lay.params(0)
        pdx = 4.0 / 32
        # expected: bilinear of v = (a*px + b*py + d) % 256 — linear except wraps;
        # test a region without wrap: find interior cells and check ramp slope
        assert not np.any(np.isnan(a))
        dx_grad = np.diff(a, axis=1)
        # gradient must be locally constant where no 256-wrap occurs
        med = np.median(dx_grad)
        frac_const = np.mean(np.abs(dx_grad - med) < 1e-6)
        assert frac_const > 0.5


def sweep_layout(nb: int) -> ImageLayout:
    """2x2 overlapping tiles over 3 days, two images per tile and day plus a
    hot tile: cells hold 1 to 11 images, and images cross chunk borders."""
    return ImageLayout(left0=0.0, top0=4.0, tile_dx=2.0, tile_dy=2.0, gx=2, gy=2, ntime=3,
                       tile_w=8, tile_h=8, nb=nb, fmts=("raw", "png"), overlap=0.25, hot_every=5)


SWEEP_N = 24


@pytest.fixture(scope="module")
def sweep_images(spark):
    imgs = {nb: generate_images(spark, SWEEP_N, sweep_layout(nb)).cache() for nb in (1, 3)}
    yield imgs
    for df in imgs.values():
        df.unpersist()


@pytest.mark.parametrize("resampling", ["near", "bilinear"])
@pytest.mark.parametrize("nb", [1, 3])
@pytest.mark.parametrize("agg", AGG_METHODS)
def test_scan_invariance_sweep(spark, sweep_images, agg, nb, resampling):
    """The scan result does not depend on the chunk time depth or on salting
    (decomposable methods), for every aggregation and band count; near
    sampling also matches the per-cell oracle."""
    lay = sweep_layout(nb)
    v = CubeView.create(srs="EPSG:4326", left=0, right=4, bottom=0, top=4,
                        t0="2021-01-01", t1="2021-01-03", dt="P1D", dx=0.5, dy=0.5,
                        aggregation=agg, resampling=resampling)

    def scan(ct, salt=0):
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=ct, cy=4, cx=4)
        return raster_cube(sweep_images[nb], v, band_names(lay), chunking=g, salt=salt).collect_array()

    got = scan(1)
    assert not np.isnan(got).any()  # the layout covers every cell of every day
    np.testing.assert_array_equal(scan(3), got)
    if agg in DECOMPOSABLE:
        salted = scan(3, salt=4)
        if agg in ("sum", "mean"):  # summation order differs across buckets
            np.testing.assert_allclose(salted, got, rtol=1e-12)
        else:
            np.testing.assert_array_equal(salted, got)
    if resampling == "near" and agg != "count_images":
        np.testing.assert_allclose(got, oracle_cell_values(lay, SWEEP_N, v, agg), rtol=1e-12)


class TestPngFilters:
    def _encode_with_filters(self, img: np.ndarray, filters):
        """Hand-build a PNG whose rows use the given filter types (forward
        filtering per RFC 2083) — external encoders emit exactly this."""
        import struct
        import zlib
        from gdalcubes_spark.codecs import _png_chunk
        h, w = img.shape
        nb = 1
        raw = b""
        prev = np.zeros(w, dtype=np.uint8)
        for r in range(h):
            line = img[r].copy()
            ft = filters[r % len(filters)]
            enc = line.astype(np.int16)
            if ft == 1:
                enc[1:] = enc[1:] - line[:-1]
            elif ft == 2:
                enc = enc - prev
            elif ft == 3:
                for i in range(w - 1, -1, -1):
                    left = int(line[i - 1]) if i >= 1 else 0
                    enc[i] = int(line[i]) - ((left + int(prev[i])) >> 1)
            elif ft == 4:
                for i in range(w - 1, -1, -1):
                    a = int(line[i - 1]) if i >= 1 else 0
                    b = int(prev[i])
                    c = int(prev[i - 1]) if i >= 1 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[i] = int(line[i]) - pred
            raw += bytes([ft]) + (enc & 0xFF).astype(np.uint8).tobytes()
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(raw, 6)) + _png_chunk(b"IEND", b""))

    def test_all_filter_types_decode(self):
        from gdalcubes_spark import codecs
        rng = np.random.default_rng(3)
        img = (rng.random((23, 31)) * 255).astype(np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            png = self._encode_with_filters(img, filters)
            out = codecs.decode(png, "png")
            assert np.array_equal(out[0], img), filters
