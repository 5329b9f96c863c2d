"""Pure-Python/numpy lossy VP8 key-frame decoder (RFC 6386).

Closes the last common real-world format stub in the scan decode contract:
the reference decodes anything GDAL reads (image_collection_cube.cpp:446-552),
and single-image lossy .webp files are VP8 key frames.  Decode only — lossy
VP8 *encoding* remains a documented libwebp seam (the in-repo WebP encoder
emits lossless VP8L, webpcodec.py).

Scope: key frames (intra-only), which is what standalone lossy WebP images
are.  Inter frames would need reference buffers and motion compensation and
cannot occur as the first frame of a still image.

Bit-exactness: VP8 decoding is exact by construction (RFC 6386 §2) in
YUV420 space.  tests/test_vp8codec.py fuzzes this decoder bit-for-bit
against a system libwebp via the ctypes binding (gdalcubes_spark/libwebp.py
decode_yuv) on libwebp-encoded streams of many sizes/contents/qualities.

Constant tables (token probabilities, quantizer lookups, key-frame mode
probabilities) live in vp8tables.py, regenerated by
tools/extract_vp8_tables.py; trees and small probability tables below are
transcribed from the RFC text (section numbers cited inline).
"""

from __future__ import annotations

import numpy as np

from gdalcubes_spark.vp8tables import (
    AC_QLOOKUP,
    COEFF_BANDS,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------- constants

# Zigzag: coefficient order -> raster position in the 4x4 block (RFC 13.3).
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# 16x16 luma / chroma prediction modes (RFC 11.2).
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4

# 4x4 sub-block modes (RFC 11.4).
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# Key-frame mode trees and probabilities (RFC 11.3-11.5, 8.2).  Leaves are
# encoded as <= 0 (negated mode), internal nodes as the next pair index.
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROBS = (142, 114, 183)
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)

# Whole-MB mode -> implied sub-block mode for B-mode context (RFC 11.3).
_IMPLIED_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# Extra-bit probabilities for the DCT value categories (RFC 13.2).
CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
CAT_BASE = (5, 7, 11, 19, 35, 67)


class VP8Error(ValueError):
    pass


# ---------------------------------------------------------------- bool dec


class BoolDecoder:
    """RFC 6386 §7 boolean (binary arithmetic) decoder.

    Reads past the end of the buffer yield zero bytes (the spec allows the
    decoder to consume a bounded number of phantom bits at stream end).
    """

    __slots__ = ("buf", "pos", "end", "value", "range", "count")

    def __init__(self, buf: bytes, start: int, end: int):
        self.buf = buf
        self.pos = start
        self.end = end
        b0 = buf[start] if start < end else 0
        b1 = buf[start + 1] if start + 1 < end else 0
        self.value = (b0 << 8) | b1
        self.pos = start + 2
        self.range = 255
        self.count = 0  # bits consumed since last whole byte (0..7)

    def read(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        r = self.range
        if r < 128:
            s = 8 - r.bit_length()
            self.range = r << s
            v = self.value << s
            c = self.count + s
            if c >= 8:
                c -= 8
                if self.pos < self.end:
                    v |= self.buf[self.pos] << c
                self.pos += 1
            self.value = v
            self.count = c
        return ret

    def read_literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read(128)
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_literal(n)
        return -v if self.read(128) else v

    def read_tree(self, tree, probs) -> int:
        i = 0
        while True:
            i = tree[i + self.read(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------- transforms


def _uclip(a, lo, hi):
    """Clamp to [lo, hi] with two bare ufuncs: np.clip's argument handling
    costs more than the clamp on these 4x4..16x16 blocks."""
    return np.minimum(np.maximum(a, lo), hi)


def _iwht4(blk):
    """Inverse Walsh-Hadamard for the Y2 (DC) block, RFC 6386 14.3."""
    t = [0] * 16
    for i in range(4):
        a1 = blk[i] + blk[12 + i]
        b1 = blk[4 + i] + blk[8 + i]
        c1 = blk[4 + i] - blk[8 + i]
        d1 = blk[i] - blk[12 + i]
        t[i] = a1 + b1
        t[4 + i] = c1 + d1
        t[8 + i] = a1 - b1
        t[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = t[r] + t[r + 3]
        b1 = t[r + 1] + t[r + 2]
        c1 = t[r + 1] - t[r + 2]
        d1 = t[r] - t[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


def _idct4_batch(B: np.ndarray) -> np.ndarray:
    """Vectorized inverse 4x4 DCT over a (n, 16) int64 coefficient matrix
    (same fixed-point kernel as _idct4; int64 because coeff*35468 can
    exceed int32 at category-6 magnitudes)."""
    i0, i4 = B[:, 0:4], B[:, 4:8]
    i8, i12 = B[:, 8:12], B[:, 12:16]
    a1 = i0 + i8
    b1 = i0 - i8
    c1 = ((i4 * 35468) >> 16) - (i12 + ((i12 * 20091) >> 16))
    d1 = (i4 + ((i4 * 20091) >> 16)) + ((i12 * 35468) >> 16)
    t = np.empty_like(B)
    t[:, 0:4] = a1 + d1
    t[:, 12:16] = a1 - d1
    t[:, 4:8] = b1 + c1
    t[:, 8:12] = b1 - c1
    T = t.reshape(-1, 4, 4)
    r0, r1, r2, r3 = T[:, :, 0], T[:, :, 1], T[:, :, 2], T[:, :, 3]
    a1 = r0 + r2
    b1 = r0 - r2
    c1 = ((r1 * 35468) >> 16) - (r3 + ((r3 * 20091) >> 16))
    d1 = (r1 + ((r1 * 20091) >> 16)) + ((r3 * 35468) >> 16)
    out = np.empty_like(T)
    out[:, :, 0] = (a1 + d1 + 4) >> 3
    out[:, :, 1] = (b1 + c1 + 4) >> 3
    out[:, :, 2] = (b1 - c1 + 4) >> 3
    out[:, :, 3] = (a1 - d1 + 4) >> 3
    return out.reshape(-1, 16)


def _idct4(blk):
    """Inverse 4x4 DCT, RFC 6386 14.4 (fixed-point 20091/35468 kernel)."""
    t = [0] * 16
    for i in range(4):
        i4, i8, i12 = blk[4 + i], blk[8 + i], blk[12 + i]
        a1 = blk[i] + i8
        b1 = blk[i] - i8
        c1 = ((i4 * 35468) >> 16) - (i12 + ((i12 * 20091) >> 16))
        d1 = (i4 + ((i4 * 20091) >> 16)) + ((i12 * 35468) >> 16)
        t[i] = a1 + d1
        t[12 + i] = a1 - d1
        t[4 + i] = b1 + c1
        t[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        r1, r2, r3 = t[r + 1], t[r + 2], t[r + 3]
        a1 = t[r] + r2
        b1 = t[r] - r2
        c1 = ((r1 * 35468) >> 16) - (r3 + ((r3 * 20091) >> 16))
        d1 = (r1 + ((r1 * 20091) >> 16)) + ((r3 * 35468) >> 16)
        out[r] = (a1 + d1 + 4) >> 3
        out[r + 1] = (b1 + c1 + 4) >> 3
        out[r + 2] = (b1 - c1 + 4) >> 3
        out[r + 3] = (a1 - d1 + 4) >> 3
    return out


# ---------------------------------------------------------------- header


class _Frame:
    """Parsed frame state shared by the decode stages."""

    __slots__ = (
        "w", "h", "mb_w", "mb_h", "simple_filter", "filter_level",
        "sharpness", "lf_delta", "ref_lf_delta", "mode_lf_delta",
        "use_segment", "update_map", "seg_probs", "seg_quant", "seg_lf",
        "seg_abs", "dequant", "probs", "use_skip", "skip_prob",
        "parts", "mbs",
    )


def _parse_quant(bd: BoolDecoder, frame: _Frame) -> None:
    """Quantizer header + per-segment dequant factors (RFC 9.6, 14.1)."""
    y_ac_qi = bd.read_literal(7)
    ydc_d = bd.read_signed(4) if bd.read(128) else 0
    y2dc_d = bd.read_signed(4) if bd.read(128) else 0
    y2ac_d = bd.read_signed(4) if bd.read(128) else 0
    uvdc_d = bd.read_signed(4) if bd.read(128) else 0
    uvac_d = bd.read_signed(4) if bd.read(128) else 0

    def clip(q, m=127):
        return 0 if q < 0 else (m if q > m else q)

    frame.dequant = []
    for seg in range(4):
        if frame.use_segment:
            q = frame.seg_quant[seg] if frame.seg_abs \
                else y_ac_qi + frame.seg_quant[seg]
            q = clip(q)
        else:
            q = y_ac_qi
        ydc = DC_QLOOKUP[clip(q + ydc_d)]
        yac = AC_QLOOKUP[q]
        y2dc = DC_QLOOKUP[clip(q + y2dc_d)] * 2
        # libwebp computes 155/100 as *101581>>16; identical for all q
        # (asserted in tests) and parity-safe either way.
        y2ac = (AC_QLOOKUP[clip(q + y2ac_d)] * 101581) >> 16
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[clip(q + uvdc_d, 117)]
        uvac = AC_QLOOKUP[clip(q + uvac_d)]
        frame.dequant.append((ydc, yac, y2dc, y2ac, uvdc, uvac))


def _parse_header(data: bytes) -> tuple:
    """Frame tag + first-partition headers (RFC 9).  Returns (frame, bd)."""
    if len(data) < 10:
        raise VP8Error("VP8 stream too short")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    keyframe = not (tag & 1)
    part0_size = tag >> 5
    if not keyframe:
        raise VP8Error("only key frames are supported (still images)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise VP8Error("bad VP8 keyframe start code")
    w = (data[6] | (data[7] << 8)) & 0x3FFF
    h = (data[8] | (data[9] << 8)) & 0x3FFF
    if w == 0 or h == 0:
        raise VP8Error("bad VP8 dimensions")
    frame = _Frame()
    frame.w, frame.h = w, h
    frame.mb_w = (w + 15) >> 4
    frame.mb_h = (h + 15) >> 4

    if 10 + part0_size > len(data):
        raise VP8Error("truncated first partition")
    bd = BoolDecoder(data, 10, 10 + part0_size)
    bd.read(128)  # color space (must be 0 for valid streams)
    bd.read(128)  # clamping type (decode always clamps)

    # Segmentation (RFC 9.3)
    frame.use_segment = bd.read(128)
    frame.update_map = 0
    frame.seg_probs = (255, 255, 255)
    frame.seg_quant = [0, 0, 0, 0]
    frame.seg_lf = [0, 0, 0, 0]
    frame.seg_abs = 0
    if frame.use_segment:
        frame.update_map = bd.read(128)
        if bd.read(128):  # update segment feature data
            frame.seg_abs = bd.read(128)
            frame.seg_quant = [
                bd.read_signed(7) if bd.read(128) else 0 for _ in range(4)]
            frame.seg_lf = [
                bd.read_signed(6) if bd.read(128) else 0 for _ in range(4)]
        if frame.update_map:
            frame.seg_probs = tuple(
                bd.read_literal(8) if bd.read(128) else 255 for _ in range(3))

    # Loop filter (RFC 9.4)
    frame.simple_filter = bd.read(128)
    frame.filter_level = bd.read_literal(6)
    frame.sharpness = bd.read_literal(3)
    frame.lf_delta = bd.read(128)
    frame.ref_lf_delta = [0, 0, 0, 0]
    frame.mode_lf_delta = [0, 0, 0, 0]
    if frame.lf_delta and bd.read(128):  # deltas updated this frame
        for i in range(4):
            if bd.read(128):
                frame.ref_lf_delta[i] = bd.read_signed(6)
        for i in range(4):
            if bd.read(128):
                frame.mode_lf_delta[i] = bd.read_signed(6)

    # Token partitions (RFC 9.5): sizes trail the first partition.
    n_parts = 1 << bd.read_literal(2)
    frame.parts = []
    sizes_at = 10 + part0_size
    part_at = sizes_at + 3 * (n_parts - 1)
    if part_at > len(data):
        raise VP8Error("truncated partition size table")
    for i in range(n_parts):
        if i < n_parts - 1:
            o = sizes_at + 3 * i
            psz = data[o] | (data[o + 1] << 8) | (data[o + 2] << 16)
        else:
            psz = len(data) - part_at
        if part_at + psz > len(data) or psz < 0:
            raise VP8Error("truncated token partition")
        frame.parts.append(BoolDecoder(data, part_at, part_at + psz))
        part_at += psz

    _parse_quant(bd, frame)
    bd.read(128)  # refresh_entropy_probs (no-op within a single frame)

    # Token probability updates (RFC 13.4)
    probs = list(COEFF_PROBS)
    for i in range(1056):
        if bd.read(COEFF_UPDATE_PROBS[i]):
            probs[i] = bd.read_literal(8)
    frame.probs = probs

    frame.use_skip = bd.read(128)
    frame.skip_prob = bd.read_literal(8) if frame.use_skip else 0
    return frame, bd


# ---------------------------------------------------------------- modes


class _MB:
    __slots__ = ("segment", "skip", "ymode", "uvmode", "bmodes", "nnz")

    def __init__(self):
        self.segment = 0
        self.skip = 0
        self.nnz = 0


def _parse_modes(frame: _Frame, bd: BoolDecoder) -> None:
    """Per-MB intra modes from partition 0 (RFC 11), raster order."""
    mb_w = frame.mb_w
    sp = frame.seg_probs
    above_bm = [[B_DC] * 4 for _ in range(mb_w)]  # bottom sub-mode row
    frame.mbs = []
    for _my in range(frame.mb_h):
        left_bm = [B_DC] * 4
        row = []
        for mx in range(mb_w):
            mb = _MB()
            if frame.update_map:
                # segment_id tree (RFC 9.3): {2, 4, -0, -1, -2, -3}
                if bd.read(sp[0]):
                    mb.segment = 2 + bd.read(sp[2])
                else:
                    mb.segment = bd.read(sp[1])
            if frame.use_skip:
                mb.skip = bd.read(frame.skip_prob)
            mb.ymode = bd.read_tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            if mb.ymode == B_PRED:
                bm = [0] * 16
                for i in range(16):
                    a = above_bm[mx][i & 3] if i < 4 else bm[i - 4]
                    l = left_bm[i >> 2] if (i & 3) == 0 else bm[i - 1]
                    bm[i] = bd.read_tree(
                        BMODE_TREE,
                        KF_BMODE_PROBS[(a * 10 + l) * 9:(a * 10 + l) * 9 + 9])
                mb.bmodes = bm
                above_bm[mx] = bm[12:16]
                left_bm = [bm[3], bm[7], bm[11], bm[15]]
            else:
                imp = _IMPLIED_BMODE[mb.ymode]
                mb.bmodes = None
                above_bm[mx] = [imp] * 4
                left_bm = [imp] * 4
            mb.uvmode = bd.read_tree(UV_MODE_TREE, KF_UV_MODE_PROBS)
            row.append(mb)
        frame.mbs.append(row)


# ---------------------------------------------------------------- residuals


def _decode_coeffs(bd: BoolDecoder, probs, ptype: int, first: int,
                   ctx: int, dq_dc: int, dq_ac: int):
    """Token decode for one 4x4 block (RFC 13.2-13.3).

    Returns the coeff list in raster order, or None if all-zero.  The
    boolean-decoder state lives in locals for the whole block (the hot
    loop; the method-call form costs ~2x, same lesson as the VP8L/JPEG
    entropy loops) and is stored back once at the end.
    """
    base = ptype * 264  # 8*3*11
    out = None
    c = first
    ctx_now = ctx
    skip_eob = False
    buf = bd.buf
    end = bd.end
    val = bd.value
    rng = bd.range
    cnt = bd.count
    pos = bd.pos
    bands = COEFF_BANDS
    zig = ZIGZAG
    while c < 16:
        p = base + bands[c] * 33 + ctx_now * 11
        if not skip_eob:
            prob = probs[p]
            split = 1 + (((rng - 1) * prob) >> 8)
            if val >= (split << 8):
                rng -= split
                val -= split << 8
            else:
                rng = split
                if rng < 128:
                    s = 8 - rng.bit_length()
                    rng <<= s
                    val <<= s
                    cnt += s
                    if cnt >= 8:
                        cnt -= 8
                        if pos < end:
                            val |= buf[pos] << cnt
                        pos += 1
                break  # EOB
            if rng < 128:
                s = 8 - rng.bit_length()
                rng <<= s
                val <<= s
                cnt += s
                if cnt >= 8:
                    cnt -= 8
                    if pos < end:
                        val |= buf[pos] << cnt
                    pos += 1
        # zero/nonzero bit
        prob = probs[p + 1]
        split = 1 + (((rng - 1) * prob) >> 8)
        if val >= (split << 8):
            bit = 1
            rng -= split
            val -= split << 8
        else:
            bit = 0
            rng = split
        if rng < 128:
            s = 8 - rng.bit_length()
            rng <<= s
            val <<= s
            cnt += s
            if cnt >= 8:
                cnt -= 8
                if pos < end:
                    val |= buf[pos] << cnt
                pos += 1
        if not bit:
            ctx_now = 0
            c += 1
            skip_eob = True
            continue
        skip_eob = False
        # magnitude: walk the remaining token tree with inline reads
        prob = probs[p + 2]
        split = 1 + (((rng - 1) * prob) >> 8)
        if val >= (split << 8):
            bit = 1
            rng -= split
            val -= split << 8
        else:
            bit = 0
            rng = split
        if rng < 128:
            s = 8 - rng.bit_length()
            rng <<= s
            val <<= s
            cnt += s
            if cnt >= 8:
                cnt -= 8
                if pos < end:
                    val |= buf[pos] << cnt
                pos += 1
        if not bit:
            v = 1
            ctx_now = 1
        else:
            ctx_now = 2
            prob = probs[p + 3]
            split = 1 + (((rng - 1) * prob) >> 8)
            if val >= (split << 8):
                bit = 1
                rng -= split
                val -= split << 8
            else:
                bit = 0
                rng = split
            if rng < 128:
                s = 8 - rng.bit_length()
                rng <<= s
                val <<= s
                cnt += s
                if cnt >= 8:
                    cnt -= 8
                    if pos < end:
                        val |= buf[pos] << cnt
                    pos += 1
            if not bit:
                prob = probs[p + 4]
                split = 1 + (((rng - 1) * prob) >> 8)
                if val >= (split << 8):
                    bit = 1
                    rng -= split
                    val -= split << 8
                else:
                    bit = 0
                    rng = split
                if rng < 128:
                    s = 8 - rng.bit_length()
                    rng <<= s
                    val <<= s
                    cnt += s
                    if cnt >= 8:
                        cnt -= 8
                        if pos < end:
                            val |= buf[pos] << cnt
                        pos += 1
                if not bit:
                    v = 2
                else:
                    prob = probs[p + 5]
                    split = 1 + (((rng - 1) * prob) >> 8)
                    if val >= (split << 8):
                        bit = 1
                        rng -= split
                        val -= split << 8
                    else:
                        bit = 0
                        rng = split
                    if rng < 128:
                        s = 8 - rng.bit_length()
                        rng <<= s
                        val <<= s
                        cnt += s
                        if cnt >= 8:
                            cnt -= 8
                            if pos < end:
                                val |= buf[pos] << cnt
                            pos += 1
                    v = 3 + bit
            else:
                # categories: sync the object state and use the method
                # (cat tokens are a small minority of reads)
                bd.value, bd.range, bd.count, bd.pos = val, rng, cnt, pos
                read = bd.read
                if not read(probs[p + 6]):
                    cat = 0 if not read(probs[p + 7]) else 1
                else:
                    if not read(probs[p + 8]):
                        cat = 2 if not read(probs[p + 9]) else 3
                    else:
                        cat = 4 if not read(probs[p + 10]) else 5
                v = CAT_BASE[cat]
                bits = 0
                for cp in CAT_PROBS[cat]:
                    bits = (bits << 1) | read(cp)
                v += bits
                val, rng, cnt, pos = bd.value, bd.range, bd.count, bd.pos
        # sign (prob 128)
        split = 1 + ((rng - 1) >> 1)
        if val >= (split << 8):
            v = -v
            rng -= split
            val -= split << 8
        else:
            rng = split
        if rng < 128:
            s = 8 - rng.bit_length()
            rng <<= s
            val <<= s
            cnt += s
            if cnt >= 8:
                cnt -= 8
                if pos < end:
                    val |= buf[pos] << cnt
                pos += 1
        if out is None:
            out = [0] * 16
        out[zig[c]] = v * (dq_dc if c == 0 else dq_ac)
        c += 1
    bd.value, bd.range, bd.count, bd.pos = val, rng, cnt, pos
    return out


def _parse_residuals(frame: _Frame, mb: _MB, part: BoolDecoder,
                     lnz, anz, mx: int):
    """All coefficient blocks of one MB (RFC 13).  Returns the block lists.

    lnz/anz are the left/above non-zero context arrays:
      lnz = [y0..y3, u0, u1, v0, v1, y2]  (per MB row, reset each row start)
      anz = per-MB-column array of the same layout.
    """
    probs = frame.probs
    dq = frame.dequant[mb.segment]
    has_y2 = mb.ymode != B_PRED
    a = anz[mx]
    y_blocks = [None] * 16
    u_blocks = [None] * 4
    v_blocks = [None] * 4
    y2_out = None
    nnz_any = 0

    if mb.skip:
        # RFC 13.1: skipped MBs zero the Y/UV contexts; the Y2 context is
        # cleared only when the MB actually has a Y2 block.
        lnz[0] = lnz[1] = lnz[2] = lnz[3] = 0
        lnz[4] = lnz[5] = lnz[6] = lnz[7] = 0
        a[0] = a[1] = a[2] = a[3] = 0
        a[4] = a[5] = a[6] = a[7] = 0
        if has_y2:
            lnz[8] = a[8] = 0
        mb.nnz = 0
        return y_blocks, u_blocks, v_blocks, None

    if has_y2:
        ctx = lnz[8] + a[8]
        blk = _decode_coeffs(part, probs, 1, 0, ctx, dq[2], dq[3])
        lnz[8] = a[8] = 0 if blk is None else 1
        if blk is not None:
            nnz_any = 1
            y2_out = _iwht4(blk)
        first, ytype = 1, 0
    else:
        first, ytype = 0, 3

    for i in range(16):
        r, cidx = i >> 2, i & 3
        ctx = lnz[r] + a[cidx]
        blk = _decode_coeffs(part, probs, ytype, first, ctx, dq[0], dq[1])
        nz = 0 if blk is None else 1
        lnz[r] = a[cidx] = nz
        nnz_any |= nz
        if y2_out is not None:
            dcv = y2_out[i]
            if dcv:
                if blk is None:
                    blk = [0] * 16
                blk[0] = dcv
        y_blocks[i] = blk

    for pi, (blocks, off) in enumerate(((u_blocks, 4), (v_blocks, 6))):
        for i in range(4):
            r, cidx = i >> 1, i & 1
            ctx = lnz[off + r] + a[off + cidx]
            blk = _decode_coeffs(part, probs, 2, 0, ctx, dq[4], dq[5])
            nz = 0 if blk is None else 1
            lnz[off + r] = a[off + cidx] = nz
            nnz_any |= nz
            blocks[i] = blk

    mb.nnz = nnz_any
    return y_blocks, u_blocks, v_blocks, y2_out


# ---------------------------------------------------------------- predict


def _pred16(plane, py, px, mode, have_above, have_left, size):
    """Whole-block DC/V/H/TM prediction into plane[py:py+s, px:px+s].

    plane is the padded uint8 plane (row 0 = 127 border, col 0 = 129
    border); py/px point at the block's top-left inside the pad.
    """
    above = plane[py - 1, px:px + size].astype(np.int32)
    left = plane[py:py + size, px - 1].astype(np.int32)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> \
                (5 if size == 16 else 4)
        elif have_above:
            dc = (int(above.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        elif have_left:
            dc = (int(left.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        else:
            dc = 128
        plane[py:py + size, px:px + size] = dc
    elif mode == V_PRED:
        plane[py:py + size, px:px + size] = above.astype(np.uint8)[None, :]
    elif mode == H_PRED:
        plane[py:py + size, px:px + size] = left.astype(np.uint8)[:, None]
    else:  # TM_PRED
        tl = int(plane[py - 1, px - 1])
        pred = left[:, None] + above[None, :] - tl
        plane[py:py + size, px:px + size] = _uclip(pred, 0, 255) \
            .astype(np.uint8)


def _pred_b(W, r, c, mode, tr):
    """4x4 sub-block prediction into workspace W (lists of ints), RFC 12.2.

    W is 17 rows x 21 cols: W[0][0]=above-left, W[0][1..16]=above,
    W[0][17..20]=MB top-right group, W[r][0]=left column.  tr is the 4-pixel
    above-right group for the MB's right column (the VP8 quirk: all four
    right-column sub-blocks use it, RFC 12.3 note).
    """
    y0, x0 = 1 + 4 * r, 1 + 4 * c
    Arow = W[y0 - 1]
    if c == 3:
        A = Arow[x0:x0 + 4] + tr
    else:
        A = Arow[x0:x0 + 8]
    L = [W[y0][x0 - 1], W[y0 + 1][x0 - 1], W[y0 + 2][x0 - 1],
         W[y0 + 3][x0 - 1]]
    P = Arow[x0 - 1]
    A0, A1, A2, A3 = A[0], A[1], A[2], A[3]
    A4, A5, A6, A7 = A[4], A[5], A[6], A[7]
    L0, L1, L2, L3 = L

    if mode == B_DC:
        dc = (A0 + A1 + A2 + A3 + L0 + L1 + L2 + L3 + 4) >> 3
        rows = ((dc,) * 4,) * 4
    elif mode == B_TM:
        rows = []
        for Lv in L:
            base = Lv - P
            rows.append(tuple(
                0 if v < 0 else (255 if v > 255 else v)
                for v in (base + A0, base + A1, base + A2, base + A3)))
    elif mode == B_VE:
        r0 = ((P + 2 * A0 + A1 + 2) >> 2, (A0 + 2 * A1 + A2 + 2) >> 2,
              (A1 + 2 * A2 + A3 + 2) >> 2, (A2 + 2 * A3 + A4 + 2) >> 2)
        rows = (r0,) * 4
    elif mode == B_HE:
        rows = (((P + 2 * L0 + L1 + 2) >> 2,) * 4,
                ((L0 + 2 * L1 + L2 + 2) >> 2,) * 4,
                ((L1 + 2 * L2 + L3 + 2) >> 2,) * 4,
                ((L2 + 2 * L3 + L3 + 2) >> 2,) * 4)
    elif mode == B_LD:
        e = ((A0 + 2 * A1 + A2 + 2) >> 2, (A1 + 2 * A2 + A3 + 2) >> 2,
             (A2 + 2 * A3 + A4 + 2) >> 2, (A3 + 2 * A4 + A5 + 2) >> 2,
             (A4 + 2 * A5 + A6 + 2) >> 2, (A5 + 2 * A6 + A7 + 2) >> 2,
             (A6 + 2 * A7 + A7 + 2) >> 2)
        rows = (e[0:4], e[1:5], e[2:6], e[3:7])
    elif mode == B_RD:
        e = ((L3 + 2 * L2 + L1 + 2) >> 2, (L2 + 2 * L1 + L0 + 2) >> 2,
             (L1 + 2 * L0 + P + 2) >> 2, (L0 + 2 * P + A0 + 2) >> 2,
             (P + 2 * A0 + A1 + 2) >> 2, (A0 + 2 * A1 + A2 + 2) >> 2,
             (A1 + 2 * A2 + A3 + 2) >> 2)
        rows = (e[3:7], e[2:6], e[1:5], e[0:4])
    elif mode == B_VR:
        e1 = (L0 + 2 * P + A0 + 2) >> 2
        e2 = (L1 + 2 * L0 + P + 2) >> 2
        e3 = (L2 + 2 * L1 + L0 + 2) >> 2
        v0 = (P + A0 + 1) >> 1
        v1 = (A0 + A1 + 1) >> 1
        v2 = (A1 + A2 + 1) >> 1
        v3 = (A2 + A3 + 1) >> 1
        d0 = (P + 2 * A0 + A1 + 2) >> 2
        d1 = (A0 + 2 * A1 + A2 + 2) >> 2
        d2 = (A1 + 2 * A2 + A3 + 2) >> 2
        rows = ((v0, v1, v2, v3),
                (e1, d0, d1, d2),
                (e2, v0, v1, v2),
                (e3, e1, d0, d1))
    elif mode == B_VL:
        v0 = (A0 + A1 + 1) >> 1
        v1 = (A1 + A2 + 1) >> 1
        v2 = (A2 + A3 + 1) >> 1
        v3 = (A3 + A4 + 1) >> 1
        d0 = (A0 + 2 * A1 + A2 + 2) >> 2
        d1 = (A1 + 2 * A2 + A3 + 2) >> 2
        d2 = (A2 + 2 * A3 + A4 + 2) >> 2
        d3 = (A3 + 2 * A4 + A5 + 2) >> 2
        d4 = (A4 + 2 * A5 + A6 + 2) >> 2
        rows = ((v0, v1, v2, v3),
                (d0, d1, d2, d3),
                (v1, v2, v3, d4),
                (d1, d2, d3, (A5 + 2 * A6 + A7 + 2) >> 2))
    elif mode == B_HD:
        h0 = (P + L0 + 1) >> 1
        d0 = (A0 + 2 * P + L0 + 2) >> 2
        e0 = (P + 2 * A0 + A1 + 2) >> 2
        h1 = (L0 + L1 + 1) >> 1
        d1 = (P + 2 * L0 + L1 + 2) >> 2
        h2 = (L1 + L2 + 1) >> 1
        d2 = (L0 + 2 * L1 + L2 + 2) >> 2
        h3 = (L2 + L3 + 1) >> 1
        d3 = (L1 + 2 * L2 + L3 + 2) >> 2
        rows = ((h0, d0, e0, (A0 + 2 * A1 + A2 + 2) >> 2),
                (h1, d1, h0, d0),
                (h2, d2, h1, d1),
                (h3, d3, h2, d2))
    else:  # B_HU
        h0 = (L0 + L1 + 1) >> 1
        d0 = (L0 + 2 * L1 + L2 + 2) >> 2
        h1 = (L1 + L2 + 1) >> 1
        d1 = (L1 + 2 * L2 + L3 + 2) >> 2
        h2 = (L2 + L3 + 1) >> 1
        d2 = (L2 + 2 * L3 + L3 + 2) >> 2
        rows = ((h0, d0, h1, d1),
                (h1, d1, h2, d2),
                (h2, d2, L3, L3),
                (L3, L3, L3, L3))
    for i in range(4):
        W[y0 + i][x0:x0 + 4] = list(rows[i])


def _add_block(W, r, c, blk):
    """Residual add + clamp for one 4x4 in the B_PRED workspace."""
    y0, x0 = 1 + 4 * r, 1 + 4 * c
    k = 0
    for i in range(4):
        row = W[y0 + i]
        for j in range(4):
            v = row[x0 + j] + blk[k]
            row[x0 + j] = 0 if v < 0 else (255 if v > 255 else v)
            k += 1


def _add_block_np(plane, py, px, blk):
    """Residual add + clamp for one 4x4 into a padded numpy plane."""
    b = np.asarray(blk, np.int32).reshape(4, 4)
    reg = plane[py:py + 4, px:px + 4].astype(np.int32) + b
    plane[py:py + 4, px:px + 4] = _uclip(reg, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- filter


def _filter_strength(frame: _Frame, mb: _MB):
    """Per-MB loop filter level / interior limit / hev threshold (RFC 15.2)."""
    level = frame.filter_level
    if frame.use_segment:
        level = frame.seg_lf[mb.segment] if frame.seg_abs \
            else level + frame.seg_lf[mb.segment]
    if frame.lf_delta:
        level += frame.ref_lf_delta[0]  # intra frame
        if mb.ymode == B_PRED:
            level += frame.mode_lf_delta[0]
    level = 0 if level < 0 else (63 if level > 63 else level)
    if level == 0:
        return 0, 0, 0
    ilevel = level
    if frame.sharpness > 0:
        ilevel >>= 2 if frame.sharpness > 4 else 1
        if ilevel > 9 - frame.sharpness:
            ilevel = 9 - frame.sharpness
    if ilevel < 1:
        ilevel = 1
    hev = 2 if level >= 40 else (1 if level >= 15 else 0)
    return level, ilevel, hev


def _sclip(v):
    # direct clip ufunc — skips the np.clip wrapper layers, which dominate
    # at the 8-32-line arrays the loop filter works on (same ufunc, same
    # values/dtype)
    return _uclip(v, -128, 127)


def _filter_normal_edges(edges, limit, ilimit, hev_t, mb_edge):
    """RFC 6386 §15.2/15.3 normal filter on one or more same-class edges.

    edges: list of (plane, y0, x0, n, horiz); all lines are gathered into
    ONE (lines, 8) int16 matrix (p3..q3 across columns), filtered with a
    single vectorized pass, and scattered back.  Gathering several edges
    per call (e.g. the U and V sides of a chroma edge) amortizes the
    numpy dispatch overhead that dominates at 8-16 lines per edge.
    """
    mats = []
    for plane, y0, x0, n, horiz in edges:
        if horiz:
            mats.append(plane[y0 - 4:y0 + 4, x0:x0 + n].T)
        else:
            mats.append(plane[y0:y0 + n, x0 - 4:x0 + 4])
    E = (np.concatenate(mats) if len(mats) > 1 else mats[0]) \
        .astype(np.int16)
    d = E[:, 1:] - E[:, :-1]
    ad = np.abs(d)
    # filter mask: interior smoothness + the p0/q0 step bound
    mask = (4 * ad[:, 3] + np.abs(E[:, 2] - E[:, 5]) <= 2 * limit + 1)
    mask &= np.maximum(ad[:, [0, 1, 2]].max(axis=1),
                       ad[:, [4, 5, 6]].max(axis=1)) <= ilimit
    if not mask.any():
        return
    hev = (ad[:, 2] > hev_t) | (ad[:, 4] > hev_t)
    S = E - 128  # signed domain
    P1, P0, Q0, Q1 = S[:, 2], S[:, 3], S[:, 4], S[:, 5]

    # hev lines: 2-tap adjust with outer taps
    a = _sclip(_sclip(P1 - Q1) + 3 * (Q0 - P0))
    hq0 = _sclip(Q0 - (_sclip(a + 4) >> 3))
    hp0 = _sclip(P0 + (_sclip(a + 3) >> 3))
    sel = mask & hev
    seln = mask & ~hev

    out = S[:, 1:7].copy()
    if mb_edge:
        # non-hev: 6-tap wide adjust (27/18/9)
        w = a
        a1 = (27 * w + 63) >> 7
        a2 = (18 * w + 63) >> 7
        a3 = (9 * w + 63) >> 7
        out[seln, 0] = _sclip(S[seln, 1] + a3[seln])
        out[seln, 1] = _sclip(P1[seln] + a2[seln])
        out[seln, 2] = _sclip(P0[seln] + a1[seln])
        out[seln, 3] = _sclip(Q0[seln] - a1[seln])
        out[seln, 4] = _sclip(Q1[seln] - a2[seln])
        out[seln, 5] = _sclip(S[seln, 6] - a3[seln])
        out[sel, 2] = hp0[sel]
        out[sel, 3] = hq0[sel]
    else:
        # sub-block edge: 4-tap; outer taps only when hev
        a_nh = _sclip(3 * (Q0 - P0))
        f1n = _sclip(a_nh + 4) >> 3
        a3n = (f1n + 1) >> 1
        out[seln, 1] = _sclip(P1[seln] + a3n[seln])
        out[seln, 2] = _sclip(P0[seln] + (_sclip(a_nh + 3) >> 3)[seln])
        out[seln, 3] = _sclip(Q0[seln] - f1n[seln])
        out[seln, 4] = _sclip(Q1[seln] - a3n[seln])
        out[sel, 2] = hp0[sel]
        out[sel, 3] = hq0[sel]
    res = (out + 128).astype(np.uint8)
    row = 0
    for plane, y0, x0, n, horiz in edges:
        blk = res[row:row + n]
        row += n
        if horiz:
            plane[y0 - 3:y0 + 3, x0:x0 + n] = blk.T
        else:
            plane[y0:y0 + n, x0 - 3:x0 + 3] = blk


def _filter_normal(plane, y0, x0, n, horiz, limit, ilimit, hev_t, mb_edge):
    _filter_normal_edges([(plane, y0, x0, n, horiz)], limit, ilimit,
                         hev_t, mb_edge)


def _filter_simple(plane, y0, x0, n, horiz, limit):
    """RFC 6386 §15.1 simple filter (luma only, p0/q0 adjust)."""
    if horiz:
        p1 = plane[y0 - 2, x0:x0 + n].astype(np.int32)
        p0 = plane[y0 - 1, x0:x0 + n].astype(np.int32)
        q0 = plane[y0, x0:x0 + n].astype(np.int32)
        q1 = plane[y0 + 1, x0:x0 + n].astype(np.int32)
    else:
        p1 = plane[y0:y0 + n, x0 - 2].astype(np.int32)
        p0 = plane[y0:y0 + n, x0 - 1].astype(np.int32)
        q0 = plane[y0:y0 + n, x0].astype(np.int32)
        q1 = plane[y0:y0 + n, x0 + 1].astype(np.int32)
    mask = (4 * np.abs(p0 - q0) + np.abs(p1 - q1) <= 2 * limit + 1)
    if not mask.any():
        return
    P1, P0, Q0, Q1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    a = _sclip(_sclip(P1 - Q1) + 3 * (Q0 - P0))
    f1 = _sclip(a + 4) >> 3
    f2 = _sclip(a + 3) >> 3
    nq0 = (np.where(mask, _sclip(Q0 - f1), Q0) + 128).astype(np.uint8)
    np0 = (np.where(mask, _sclip(P0 + f2), P0) + 128).astype(np.uint8)
    if horiz:
        plane[y0 - 1, x0:x0 + n] = np0
        plane[y0, x0:x0 + n] = nq0
    else:
        plane[y0:y0 + n, x0 - 1] = np0
        plane[y0:y0 + n, x0] = nq0


def _loop_filter(frame: _Frame, Y, U, V):
    """Whole-frame loop filter, raster MB order, in place (RFC 15)."""
    if frame.filter_level == 0:
        return
    for my in range(frame.mb_h):
        for mx in range(frame.mb_w):
            mb = frame.mbs[my][mx]
            level, ilevel, hev_t = _filter_strength(frame, mb)
            if level == 0:
                continue
            limit = 2 * level + ilevel
            inner = mb.nnz or mb.ymode == B_PRED
            yy, xx = 16 * my, 16 * mx
            cy, cx = 8 * my, 8 * mx
            if frame.simple_filter:
                if mx > 0:
                    _filter_simple(Y, yy, xx, 16, False, limit + 4)
                if inner:
                    for dx in (4, 8, 12):
                        _filter_simple(Y, yy, xx + dx, 16, False, limit)
                if my > 0:
                    _filter_simple(Y, yy, xx, 16, True, limit + 4)
                if inner:
                    for dy in (4, 8, 12):
                        _filter_simple(Y, yy + dy, xx, 16, True, limit)
            else:
                # Y/U/V are independent planes: batch same-class edges into
                # one vectorized call.  The three inner Y edges stay
                # sequential (their 8-pixel spans overlap at 4-pixel pitch).
                if mx > 0:
                    _filter_normal_edges(
                        [(Y, yy, xx, 16, False), (U, cy, cx, 8, False),
                         (V, cy, cx, 8, False)],
                        limit + 4, ilevel, hev_t, True)
                if inner:
                    _filter_normal_edges(
                        [(Y, yy, xx + 4, 16, False),
                         (U, cy, cx + 4, 8, False),
                         (V, cy, cx + 4, 8, False)],
                        limit, ilevel, hev_t, False)
                    _filter_normal(Y, yy, xx + 8, 16, False, limit,
                                   ilevel, hev_t, False)
                    _filter_normal(Y, yy, xx + 12, 16, False, limit,
                                   ilevel, hev_t, False)
                if my > 0:
                    _filter_normal_edges(
                        [(Y, yy, xx, 16, True), (U, cy, cx, 8, True),
                         (V, cy, cx, 8, True)],
                        limit + 4, ilevel, hev_t, True)
                if inner:
                    _filter_normal_edges(
                        [(Y, yy + 4, xx, 16, True),
                         (U, cy + 4, cx, 8, True),
                         (V, cy + 4, cx, 8, True)],
                        limit, ilevel, hev_t, False)
                    _filter_normal(Y, yy + 8, xx, 16, True, limit,
                                   ilevel, hev_t, False)
                    _filter_normal(Y, yy + 12, xx, 16, True, limit,
                                   ilevel, hev_t, False)


# ---------------------------------------------------------------- decode


def decode_vp8_yuv(data: bytes):
    """VP8 key-frame payload → (y, u, v) uint8 planes, cropped.

    The planes are the spec-exact YUV420 reconstruction (chroma is
    ceil(w/2) x ceil(h/2)); parity with libwebp's WebPDecodeYUV is
    bit-for-bit (tests/test_vp8codec.py).
    """
    frame, bd = _parse_header(data)
    _parse_modes(frame, bd)

    mb_w, mb_h = frame.mb_w, frame.mb_h
    # Padded planes: row 0 is the 127 "above" border, col 0 the 129 "left"
    # border; the pad corner [0,0] is 127 (above-left of MB(0,0), the
    # frame-edge convention, RFC 12.2).
    Y = np.empty((16 * mb_h + 1, 16 * mb_w + 1), np.uint8)
    U = np.empty((8 * mb_h + 1, 8 * mb_w + 1), np.uint8)
    V = np.empty((8 * mb_h + 1, 8 * mb_w + 1), np.uint8)
    for P in (Y, U, V):
        P[0, :] = 127
        P[1:, 0] = 129

    n_parts = len(frame.parts)
    anz = [[0] * 9 for _ in range(mb_w)]
    for my in range(mb_h):
        part = frame.parts[my % n_parts]
        lnz = [0] * 9
        for mx in range(mb_w):
            mb = frame.mbs[my][mx]
            yb, ub, vb, _y2 = _parse_residuals(frame, mb, part, lnz, anz, mx)
            py, px = 1 + 16 * my, 1 + 16 * mx
            cy, cx = 1 + 8 * my, 1 + 8 * mx

            # one vectorized IDCT over every nonzero block of the MB
            todo = [b for b in yb if b is not None] \
                + [b for b in ub if b is not None] \
                + [b for b in vb if b is not None]
            if todo:
                dct_out = _idct4_batch(np.asarray(todo, np.int64))
            k = 0
            y_res = [None] * 16
            for i in range(16):
                if yb[i] is not None:
                    y_res[i] = dct_out[k]
                    k += 1
            u_res = [None] * 4
            v_res = [None] * 4
            for blocks, res in ((ub, u_res), (vb, v_res)):
                for i in range(4):
                    if blocks[i] is not None:
                        res[i] = dct_out[k]
                        k += 1

            if mb.ymode == B_PRED:
                # workspace rows: above/left borders + 16x16 content
                W = [[0] * 21 for _ in range(17)]
                W[0][0] = int(Y[py - 1, px - 1])
                W[0][1:17] = [int(v) for v in Y[py - 1, px:px + 16]]
                if my == 0:
                    tr = [127, 127, 127, 127]
                elif mx == mb_w - 1:
                    tr = [int(Y[py - 1, px + 15])] * 4
                else:
                    tr = [int(v) for v in Y[py - 1, px + 16:px + 20]]
                W[0][17:21] = tr
                for i in range(16):
                    W[1 + i][0] = int(Y[py + i, px - 1])
                bm = mb.bmodes
                for i in range(16):
                    r, c = i >> 2, i & 3
                    _pred_b(W, r, c, bm[i], tr)
                    if y_res[i] is not None:
                        _add_block(W, r, c, y_res[i].tolist())
                Y[py:py + 16, px:px + 16] = np.array(
                    [W[1 + i][1:17] for i in range(16)], np.uint8)
            else:
                _pred16(Y, py, px, mb.ymode, my > 0, mx > 0, 16)
                if any(r is not None for r in y_res):
                    resid = np.zeros((16, 16), np.int32)
                    for i in range(16):
                        if y_res[i] is not None:
                            resid[4 * (i >> 2):4 * (i >> 2) + 4,
                                  4 * (i & 3):4 * (i & 3) + 4] = \
                                y_res[i].reshape(4, 4)
                    reg = Y[py:py + 16, px:px + 16].astype(np.int32) + resid
                    Y[py:py + 16, px:px + 16] = \
                        _uclip(reg, 0, 255).astype(np.uint8)

            _pred16(U, cy, cx, mb.uvmode, my > 0, mx > 0, 8)
            _pred16(V, cy, cx, mb.uvmode, my > 0, mx > 0, 8)
            for res, P in ((u_res, U), (v_res, V)):
                if not any(r is not None for r in res):
                    continue
                resid = np.zeros((8, 8), np.int32)
                for i in range(4):
                    if res[i] is not None:
                        resid[4 * (i >> 1):4 * (i >> 1) + 4,
                              4 * (i & 1):4 * (i & 1) + 4] = \
                            res[i].reshape(4, 4)
                reg = P[cy:cy + 8, cx:cx + 8].astype(np.int32) + resid
                P[cy:cy + 8, cx:cx + 8] = _uclip(reg, 0, 255).astype(np.uint8)

    Yf = Y[1:, 1:]
    Uf = U[1:, 1:]
    Vf = V[1:, 1:]
    _loop_filter(frame, Yf, Uf, Vf)
    w, h = frame.w, frame.h
    cw, ch = (w + 1) >> 1, (h + 1) >> 1
    return (np.ascontiguousarray(Yf[:h, :w]),
            np.ascontiguousarray(Uf[:ch, :cw]),
            np.ascontiguousarray(Vf[:ch, :cw]))


def yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """YUV420 planes → (3, h, w) uint8 RGB.

    Uses libwebp's fixed-point BT.601 full-swing conversion constants with
    nearest-neighbor chroma upsampling.  RGB conversion is outside the VP8
    spec (implementation-defined); this one is deterministic and documented.
    """
    h, w = y.shape
    uu = np.repeat(np.repeat(u, 2, axis=0), 2, axis=1)[:h, :w].astype(np.int32)
    vv = np.repeat(np.repeat(v, 2, axis=0), 2, axis=1)[:h, :w].astype(np.int32)
    yy = y.astype(np.int32)
    ym = (yy * 19077) >> 8
    r = ym + ((vv * 26149) >> 8) - 14234
    g = ym - ((uu * 6419) >> 8) - ((vv * 13320) >> 8) + 8708
    b = ym + ((uu * 33050) >> 8) - 17685
    out = np.empty((3, h, w), np.uint8)
    for i, c in enumerate((r, g, b)):
        out[i] = _uclip(c >> 6, 0, 255).astype(np.uint8)
    return out


def decode_vp8_rgb(data: bytes) -> np.ndarray:
    """VP8 key-frame payload → (3, h, w) uint8 RGB planes."""
    return yuv_to_rgb(*decode_vp8_yuv(data))
