"""ctypes binding of the system libavif (0.11.x) — the native decode
seam for AVIF payloads, mirroring libwebp.py for WebP.

AV1 entropy decoding is far outside what a pure-Python codec can do at
useful speed, so unlike jpeg/png/gif/webp there is no in-repo fallback:
fmt='avif' decodes ONLY where a system libavif exists (codecs.decode
raises the documented NotImplementedError otherwise; mp4meta.probe_avif
still triages dimensions/brand without it).

Struct-layout safety: the avifRGBImage field offsets changed across
libavif releases (maxThreads inserted in 0.11), so the binding probes
BOTH candidate layouts at load time and self-validates by allocating a
tiny image and checking rowBytes == width * pixel_size through each
layout; if neither validates, available() is False and the seam stays
closed rather than reading garbage memory.
"""
from __future__ import annotations

import ctypes
import warnings

import numpy as np

_lib = None
_lib_tried = False  # a failed load is cached too — no repeated dlopen probes
_rgb_layout = None  # (pixels_offset, rowbytes_offset, struct_size)

_RGB_LAYOUTS = (
    (40, 48, 128),  # <=0.11.x: ... isFloat @36, pixels @40, rowBytes @48
    (48, 56, 128),  # >=1.0: maxThreads @40, pixels @48, rowBytes @56
)


def _bind(lib: ctypes.CDLL) -> None:
    lib.avifDecoderCreate.restype = ctypes.c_void_p
    lib.avifDecoderDestroy.argtypes = [ctypes.c_void_p]
    lib.avifImageCreateEmpty.restype = ctypes.c_void_p
    lib.avifImageCreate.restype = ctypes.c_void_p
    lib.avifImageCreate.argtypes = [ctypes.c_uint32, ctypes.c_uint32,
                                    ctypes.c_uint32, ctypes.c_int]
    lib.avifImageDestroy.argtypes = [ctypes.c_void_p]
    lib.avifDecoderReadMemory.restype = ctypes.c_int
    lib.avifDecoderReadMemory.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                          ctypes.c_char_p, ctypes.c_size_t]
    lib.avifRGBImageSetDefaults.restype = None
    lib.avifRGBImageSetDefaults.argtypes = [ctypes.c_void_p, ctypes.c_void_p]
    # void in <=0.11, avifResult in >=1.0 — treat as void and gate on
    # the pointer/rowBytes validation instead of a return code
    lib.avifRGBImageAllocatePixels.restype = None
    lib.avifRGBImageAllocatePixels.argtypes = [ctypes.c_void_p]
    lib.avifRGBImageFreePixels.restype = None
    lib.avifRGBImageFreePixels.argtypes = [ctypes.c_void_p]
    lib.avifImageYUVToRGB.restype = ctypes.c_int
    lib.avifImageYUVToRGB.argtypes = [ctypes.c_void_p, ctypes.c_void_p]
    lib.avifImageRGBToYUV.restype = ctypes.c_int
    lib.avifImageRGBToYUV.argtypes = [ctypes.c_void_p, ctypes.c_void_p]
    lib.avifEncoderCreate.restype = ctypes.c_void_p
    lib.avifEncoderDestroy.argtypes = [ctypes.c_void_p]
    lib.avifEncoderWrite.restype = ctypes.c_int
    lib.avifEncoderWrite.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                     ctypes.c_void_p]
    lib.avifRWDataFree.restype = None
    lib.avifRWDataFree.argtypes = [ctypes.c_void_p]


def _probe_rgb_layout(lib) -> tuple | None:
    """Find the avifRGBImage layout this library build uses: set up a
    4x3 image's rgb view, allocate, and check rowBytes == width*4 and a
    non-null pixel pointer through each candidate."""
    img = lib.avifImageCreate(4, 3, 8, 1)  # YUV444
    if not img:
        return None
    try:
        for pix_off, rb_off, size in _RGB_LAYOUTS:
            buf = ctypes.create_string_buffer(size)
            lib.avifRGBImageSetDefaults(buf, ctypes.c_void_p(img))
            w = int.from_bytes(buf.raw[0:4], "little")
            h = int.from_bytes(buf.raw[4:8], "little")
            depth = int.from_bytes(buf.raw[8:12], "little")
            if (w, h, depth) != (4, 3, 8):
                return None  # width/height/depth prefix is fixed — bail
            lib.avifRGBImageAllocatePixels(buf)
            try:
                ptr = int.from_bytes(buf.raw[pix_off:pix_off + 8], "little")
                rb = int.from_bytes(buf.raw[rb_off:rb_off + 4], "little")
                if ptr and rb == 4 * 4:  # RGBA8 → width*4
                    return pix_off, rb_off, size
            finally:
                lib.avifRGBImageFreePixels(buf)
    finally:
        lib.avifImageDestroy(ctypes.c_void_p(img))
    return None


def load():
    global _lib, _rgb_layout, _lib_tried
    if _lib is not None or _lib_tried:
        return _lib
    _lib_tried = True
    for name in ("libavif.so.15", "libavif.so", "libavif.dylib"):
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            _bind(lib)
            layout = _probe_rgb_layout(lib)
        except (AttributeError, OSError):
            continue  # this build lacks a symbol — try the next name
        if layout is None:
            continue  # unrecognized struct layout — try the next name
        _lib = lib
        _rgb_layout = layout
        return _lib
    return None


def available() -> bool:
    return load() is not None


def _rgb_buffer(lib, img_ptr):
    pix_off, rb_off, size = _rgb_layout
    buf = ctypes.create_string_buffer(size)
    lib.avifRGBImageSetDefaults(buf, ctypes.c_void_p(img_ptr))
    return buf, pix_off, rb_off


def decode_rgba(data: bytes) -> np.ndarray:
    """AVIF bytes → uint8 (4, h, w) ARGB planes via dav1d/libaom."""
    lib = load()
    if lib is None:
        raise RuntimeError("no system libavif available")
    dec = lib.avifDecoderCreate()
    if not dec:
        raise RuntimeError("avifDecoderCreate returned NULL")
    img = lib.avifImageCreateEmpty()
    if not img:
        lib.avifDecoderDestroy(ctypes.c_void_p(dec))
        raise RuntimeError("avifImageCreateEmpty returned NULL")
    try:
        rc = lib.avifDecoderReadMemory(ctypes.c_void_p(dec),
                                       ctypes.c_void_p(img), data,
                                       len(data))
        if rc != 0:
            raise ValueError(f"libavif decode failed (avifResult {rc})")
        buf, pix_off, rb_off = _rgb_buffer(lib, img)
        w = int.from_bytes(buf.raw[0:4], "little")
        h = int.from_bytes(buf.raw[4:8], "little")
        lib.avifRGBImageAllocatePixels(buf)
        try:
            rc = lib.avifImageYUVToRGB(ctypes.c_void_p(img), buf)
            if rc != 0:
                raise ValueError(f"avifImageYUVToRGB failed ({rc})")
            ptr = int.from_bytes(buf.raw[pix_off:pix_off + 8], "little")
            rb = int.from_bytes(buf.raw[rb_off:rb_off + 4], "little")
            arr = np.ctypeslib.as_array(
                ctypes.cast(ptr, ctypes.POINTER(ctypes.c_uint8)),
                shape=(h, rb))[:, :w * 4].reshape(h, w, 4).copy()
        finally:
            lib.avifRGBImageFreePixels(buf)
        # RGBA interleaved → ARGB planes
        return np.stack([arr[:, :, 3], arr[:, :, 0], arr[:, :, 1],
                         arr[:, :, 2]])
    finally:
        lib.avifImageDestroy(ctypes.c_void_p(img))
        lib.avifDecoderDestroy(ctypes.c_void_p(dec))


def encode_rgba(a: np.ndarray, max_quantizer: int | None = None,
                speed: int | None = None) -> bytes:
    """uint8 (4|3, h, w) ARGB/RGB planes → AVIF bytes (test-vector
    generator; aom encode).  Encoder quantizer/speed fields (default 10
    each) are poked at their 0.11 offsets; a >=1.0 build keeps the library
    defaults and warns when either was passed."""
    lib = load()
    if lib is None:
        raise RuntimeError("no system libavif available")
    knobs = _rgb_layout == _RGB_LAYOUTS[0]
    if not knobs and (max_quantizer is not None or speed is not None):
        warnings.warn("libavif >= 1.0: max_quantizer/speed are not applied; "
                      "encoding with the library defaults", stacklevel=2)
    nb, h, w = a.shape
    rgba = np.empty((h, w, 4), np.uint8)
    if nb == 4:
        rgba[:, :, 0], rgba[:, :, 1], rgba[:, :, 2], rgba[:, :, 3] = \
            a[1], a[2], a[3], a[0]
    elif nb == 3:
        rgba[:, :, 0], rgba[:, :, 1], rgba[:, :, 2] = a[0], a[1], a[2]
        rgba[:, :, 3] = 255
    else:
        raise ValueError("expected (3|4, h, w) planes")
    img = lib.avifImageCreate(w, h, 8, 1)  # YUV444 keeps chroma honest
    enc = None
    try:
        buf, pix_off, rb_off = _rgb_buffer(lib, img)
        pixels = np.ascontiguousarray(rgba)
        raw = bytearray(buf.raw)
        raw[pix_off:pix_off + 8] = pixels.ctypes.data.to_bytes(8, "little")
        raw[rb_off:rb_off + 4] = (w * 4).to_bytes(4, "little")
        buf2 = (ctypes.c_char * len(raw)).from_buffer(raw)
        rc = lib.avifImageRGBToYUV(ctypes.c_void_p(img), buf2)
        if rc != 0:
            raise ValueError(f"avifImageRGBToYUV failed ({rc})")
        enc = lib.avifEncoderCreate()
        if not enc:
            raise RuntimeError("avifEncoderCreate returned NULL")
        if knobs:
            # speed/quantizer int offsets are the 0.11.x avifEncoder layout;
            # on a >=1.0 build (probed via the rgb layout) the same offsets
            # land on different config fields (keyframeInterval/autoTiling),
            # so skip the pokes there and keep the library defaults —
            # output validity is unaffected, only quality/speed knobs
            emem = ctypes.cast(ctypes.c_void_p(enc),
                               ctypes.POINTER(ctypes.c_int))
            emem[2] = 10 if speed is None else speed  # avifEncoder.speed @ offset 8
            emem[8] = 0  # minQuantizer @ 32
            emem[9] = 10 if max_quantizer is None else max_quantizer  # maxQuantizer @ 36
        out = (ctypes.c_uint8 * 16)()  # avifRWData {ptr, size}
        rc = lib.avifEncoderWrite(ctypes.c_void_p(enc),
                                  ctypes.c_void_p(img), out)
        if rc != 0:
            raise ValueError(f"avifEncoderWrite failed ({rc})")
        try:
            ptr = int.from_bytes(bytes(out[0:8]), "little")
            size = int.from_bytes(bytes(out[8:16]), "little")
            return bytes(np.ctypeslib.as_array(
                ctypes.cast(ptr, ctypes.POINTER(ctypes.c_uint8)),
                shape=(size,)))
        finally:
            lib.avifRWDataFree(out)
    finally:
        if enc:
            lib.avifEncoderDestroy(ctypes.c_void_p(enc))
        lib.avifImageDestroy(ctypes.c_void_p(img))
