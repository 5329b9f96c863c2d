"""AVIF native seam (libavif.py + codecs fmt='avif'): layout-probed
ctypes binding over the system libavif/dav1d/libaom.  Unlike the other
codecs there is no pure-Python fallback (AV1 entropy coding is outside
that boundary), so these tests gate the seam itself: self-validating
struct layout, encode→decode PSNR, band pinning, and the probe path
that works even without the library."""
from __future__ import annotations

import numpy as np
import pytest

from gdalcubes_spark import codecs, libavif
from gdalcubes_spark.mp4meta import probe_avif

pytestmark = pytest.mark.skipif(
    not libavif.available(),
    reason="no system libavif — the seam stays closed (decode raises the "
           "documented NotImplementedError)")


def _psnr(x, y):
    mse = np.mean((x.astype(np.float64) - y.astype(np.float64)) ** 2)
    return 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))


def _smooth(h=24, w=32, alpha=None):
    yy, xx = np.mgrid[0:h, 0:w]
    a = np.stack([np.full((h, w), 255) if alpha is None else alpha,
                  np.clip(yy * 8, 0, 255), np.clip(xx * 6, 0, 255),
                  ((yy + xx) * 4) % 256]).astype(np.uint8)
    return a


class TestBinding:
    def test_layout_probe_validated(self):
        assert libavif._rgb_layout is not None
        pix_off, rb_off, _ = libavif._rgb_layout
        assert rb_off == pix_off + 8

    def test_roundtrip_psnr(self):
        a = _smooth()
        b = libavif.encode_rgba(a, max_quantizer=10)
        assert b[4:8] == b"ftyp"
        d = libavif.decode_rgba(b)
        assert d.shape == a.shape
        assert _psnr(d, a) >= 40.0

    def test_alpha_survives(self):
        yy, xx = np.mgrid[0:16, 0:16]
        alpha = np.clip(yy * 16, 0, 255).astype(np.uint8)
        a = _smooth(16, 16, alpha=alpha)
        d = libavif.decode_rgba(libavif.encode_rgba(a, max_quantizer=4))
        assert _psnr(d[0], alpha) >= 40.0

    def test_knobs_on_newer_layout_warn(self, monkeypatch):
        # a >=1.0 struct layout cannot take the quantizer/speed pokes; the
        # 2-band input then fails validation before any native call
        monkeypatch.setattr(libavif, "_rgb_layout", libavif._RGB_LAYOUTS[1])
        with pytest.warns(UserWarning, match="max_quantizer/speed"), \
                pytest.raises(ValueError, match="expected"):
            libavif.encode_rgba(np.zeros((2, 4, 4), np.uint8), max_quantizer=4)

    def test_rgb_input(self):
        a = _smooth()[1:]
        d = libavif.decode_rgba(libavif.encode_rgba(a))
        assert (d[0] == 255).all()
        assert _psnr(d[1:], a) >= 40.0


class TestCodecDispatch:
    def test_encode_decode_and_pinning(self):
        a = _smooth()[1:]  # RGB
        b = codecs.encode(a, "avif")
        got = codecs.decode(b, "avif", nb=3)
        assert got.shape == a.shape
        assert _psnr(got, a) >= 40.0
        assert codecs.decode(b, "avif", nb=4).shape[0] == 4
        assert codecs.decode(b, "avif", nb=1).shape[0] == 1
        # opaque alpha collapses by default
        assert codecs.decode(b, "avif").shape[0] == 3

    def test_grey_input(self):
        g = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))[None]
        b = codecs.encode(g, "avif")
        got = codecs.decode(b, "avif", nb=1)
        assert _psnr(got, g) >= 38.0

    def test_probe_matches_encoded_dims(self):
        b = codecs.encode(_smooth()[1:], "avif")
        m = probe_avif(b)
        assert m["brand"] == "avif"
        assert (m["width"], m["height"]) == (32, 24)
