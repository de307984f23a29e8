"""Baseline-sequential JPEG pixel decode (and a fixture-grade encoder),
pure NumPy + stdlib — closing the one format whose pixels the multimodal
family could not read (VERDICT r4 #8; reference analog: the
sniff-everything attitude of utils/readfile.py:559-2110).

Scope: baseline DCT (SOF0), 8-bit, grayscale or YCbCr, 4:4:4 / 4:2:2 /
4:2:0 sampling, restart markers, interleaved single scan (the layout
virtually every web JPEG uses). Progressive (SOF2) and arithmetic coding
raise ValueError — that long tail stays on the documented PIL/ffmpeg
seam.

Exactness: JPEG's own conformance spec (ITU-T T.83) bounds decoder
accuracy by tolerance — the IDCT is NOT bit-standardized — so the tests
assert (a) EXACT recovery of quantized coefficients through the entropy
decoder (the stage that IS exact by construction), (b) exact pixels on
analytically-determined DC-only images, and (c) T.83-style max-diff
tolerance against an independent decoder (javax.imageio in the Spark
JVM, libjpeg-lineage) on textured fixtures.

Performance: the entropy decode is a per-bit Python loop — this is the
correctness/fixture path and the last-resort fallback. At crawl scale
the engine's multimodal contract (operators/multimodal.py) keeps pixel
decode behind mapInPandas where a PIL/turbojpeg wheel slots in; this
module makes the fallback REAL instead of NotImplementedError.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# orthonormal 8-point DCT-II basis: B[k, x] = c(k) cos((2x+1)k pi / 16)
_B = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    for _x in range(8):
        _B[_k, _x] = _c * np.cos((2 * _x + 1) * _k * np.pi / 16)


class _Huff:
    """Canonical Huffman table from DHT (counts, symbols)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                self.lut[(ln, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bit()
            s = self.lut.get((ln, code))
            if s is not None:
                return s
        raise ValueError("invalid Huffman code")


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any real marker (caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = (
                    self.data[self.pos + 1]
                    if self.pos + 1 < len(self.data)
                    else 0xD9  # trailing 0xFF at EOF: treat as EOI
                )
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # real marker: per spec, fill with 1-bits past the end
                    self.cur = 0xFF
                    self.nbits = 8
                    return self._take()
            else:
                self.pos += 1
            self.cur = b
            self.nbits = 8
        return self._take()

    def _take(self) -> int:
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Discard partial byte, expect a marker at pos; return it."""
        self.nbits = 0
        end = len(self.data)
        while self.pos < end and self.data[self.pos] != 0xFF:
            self.pos += 1  # spec allows garbage before RST? be lenient
        while self.pos + 1 < end and self.data[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= end:
            raise ValueError("truncated JPEG entropy stream")
        m = self.data[self.pos + 1]
        self.pos += 2
        return m


def _extend(v: int, t: int) -> int:
    return v - ((1 << t) - 1) if v < (1 << (t - 1)) else v


def decode_jpeg(payload: bytes, coefficients: bool = False):
    """JPEG bytes -> uint8 array (H, W) grayscale or (H, W, 3) RGB.
    With ``coefficients=True`` returns the list of per-component
    quantized coefficient planes (bh, bw, 64; zigzag sequence) straight
    out of the entropy decoder — the stage the standard defines exactly,
    used by the coefficient-roundtrip test.

    Baseline sequential only; raises ValueError on progressive /
    arithmetic / 12-bit streams (those stay on the PIL seam)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    comps: list[dict] = []
    w = h = 0
    restart_interval = 0
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            pos += 2
            continue
        ln = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        seg = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    tab = np.frombuffer(seg[i : i + 64], np.uint8).astype(np.int32)
                    i += 64
                else:
                    tab = np.frombuffer(seg[i : i + 128], ">u2").astype(np.int32)
                    i += 128
                qt[tq] = tab
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                nsym = sum(counts)
                syms = bytes(seg[i + 17 : i + 17 + nsym])
                (huff_dc if tc == 0 else huff_ac)[th] = _Huff(counts, syms)
                i += 17 + nsym
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            h = struct.unpack(">H", seg[1:3])[0]
            w = struct.unpack(">H", seg[3:5])[0]
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline SOF 0x{marker:02x} (progressive/arithmetic)"
                " — PIL seam"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scomp = []
            for s in range(ns):
                cs, tt = seg[1 + 2 * s], seg[2 + 2 * s]
                comp = next(c for c in comps if c["id"] == cs)
                comp["td"], comp["ta"] = tt >> 4, tt & 15
                scomp.append(comp)
            data_pos = pos + 2 + ln
            return _decode_scan(
                payload, data_pos, w, h, comps, scomp, qt, huff_dc,
                huff_ac, restart_interval, coefficients,
            )
        pos += 2 + ln
    raise ValueError("JPEG missing SOS")


def _decode_scan(
    data, pos, w, h, comps, scomp, qt, huff_dc, huff_ac,
    restart_interval, coefficients=False,
):
    if len(scomp) != len(comps):
        raise ValueError("non-interleaved multi-scan baseline — PIL seam")
    if len(comps) == 1:
        # T.81 A.2.3: a single-component scan is NON-INTERLEAVED — one
        # data unit per MCU in the component's own raster order,
        # regardless of the SOF sampling factors (libjpeg emits h=v=2
        # single-component frames when chroma is dropped without
        # resetting factors; MCU-tiled geometry would scramble pixels
        # or desync the Huffman stream)
        comps[0]["h"] = comps[0]["v"] = 1
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-component coefficient planes (blocks padded to MCU grid)
    for c in comps:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        c["coef"] = np.zeros((bh, bw, 64), np.int32)
        c["pred"] = 0
    br = _BitReader(data, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = br.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError(f"expected RST, got 0x{m:02x}")
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                dc_t, ac_t = huff_dc[c["td"]], huff_ac[c["ta"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = np.zeros(64, np.int32)
                        t = dc_t.decode(br)
                        diff = _extend(br.bits(t), t) if t else 0
                        c["pred"] += diff
                        blk[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = ac_t.decode(br)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[k] = _extend(br.bits(s), s)
                            k += 1
                        c["coef"][my * c["v"] + by, mx * c["h"] + bx] = blk
            mcu_count += 1
    if coefficients:
        return [c["coef"] for c in comps]
    # dequantize + inverse zigzag + IDCT, vectorized over all blocks
    planes = []
    for c in comps:
        q = qt[c["tq"]]
        bh, bw, _ = c["coef"].shape
        deq = (c["coef"] * q[None, None, :]).astype(np.float64)
        blocks = np.zeros((bh, bw, 8, 8))
        blocks.reshape(bh, bw, 64)[:, :, ZIGZAG] = deq
        spatial = np.einsum("kx,ijkl,ly->ijxy", _B, blocks, _B)
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        plane = np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)
        c["plane"] = plane
        planes.append(plane)
    if len(comps) == 1:
        return planes[0][:h, :w]
    # upsample chroma to full res (triangular filter, matching the
    # common libjpeg 'fancy' filter shape) then YCbCr -> RGB
    full = []
    for c in comps:
        p = c["plane"]
        fx, fy = hmax // c["h"], vmax // c["v"]
        up = _upsample(p, fx, fy)
        full.append(up[: mcuy * vmax * 8, : mcux * hmax * 8])
    y, cb, cr = (f.astype(np.float64)[:h, :w] for f in full[:3])
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _upsample(p: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Triangular (bilinear co-sited) 1:2 upsample per axis; the 2x2
    (4:2:0) case uses the exact jdsample-style combined integer
    arithmetic (colsum = 3*near + far row; pixel = (3*colsum +
    neighbor_colsum + bias) >> 4) so results match libjpeg-lineage
    decoders; replicate for other factors (4:1:1 etc. are vanishingly
    rare on the web)."""
    out = p.astype(np.int32)
    if fx == 2 and fy == 2:
        up = np.roll(out, 1, axis=0)
        up[0] = out[0]
        dn = np.roll(out, -1, axis=0)
        dn[-1] = out[-1]
        cs_even = 3 * out + up
        cs_odd = 3 * out + dn

        def hpass(cs):
            left = np.roll(cs, 1, axis=1)
            left[:, 0] = cs[:, 0]
            right = np.roll(cs, -1, axis=1)
            right[:, -1] = cs[:, -1]
            a = (3 * cs + left + 8) >> 4
            b = (3 * cs + right + 7) >> 4
            o = np.empty((cs.shape[0], cs.shape[1] * 2), np.int32)
            o[:, 0::2] = a
            o[:, 1::2] = b
            return o

        e, o = hpass(cs_even), hpass(cs_odd)
        out2 = np.empty((out.shape[0] * 2, e.shape[1]), np.int32)
        out2[0::2] = e
        out2[1::2] = o
        return out2.astype(np.uint8)
    if fx == 2:
        left = np.roll(out, 1, axis=1)
        left[:, 0] = out[:, 0]
        right = np.roll(out, -1, axis=1)
        right[:, -1] = out[:, -1]
        a = (3 * out + left + 1) >> 2
        b = (3 * out + right + 2) >> 2
        out2 = np.empty((out.shape[0], out.shape[1] * 2), np.int32)
        out2[:, 0::2] = a
        out2[:, 1::2] = b
        out = out2
    elif fx > 1:
        out = np.repeat(out, fx, axis=1)
    if fy == 2:
        up = np.roll(out, 1, axis=0)
        up[0] = out[0]
        dn = np.roll(out, -1, axis=0)
        dn[-1] = out[-1]
        a = (3 * out + up + 1) >> 2
        b = (3 * out + dn + 2) >> 2
        out2 = np.empty((out.shape[0] * 2, out.shape[1]), np.int32)
        out2[0::2] = a
        out2[1::2] = b
        out = out2
    elif fy > 1:
        out = np.repeat(out, fy, axis=0)
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# Fixture-grade baseline encoder (std Annex-K tables). Exists so the
# tests can (a) roundtrip quantized coefficients EXACTLY through the
# entropy pipeline and (b) build deterministic fixtures the independent
# JVM decoder cross-checks. Not a production sink.
# ---------------------------------------------------------------------------

_STD_LUM_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_STD_CHR_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# std Huffman tables (Annex K.3)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
         bytes(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
         bytes(range(12)))
_AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]))
_AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], bytes([
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]))


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.cur = (self.cur << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:
                    self.out.append(0x00)
                self.cur = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1-bits


def _enc_table(counts, symbols):
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            codes[symbols[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _mag(v: int) -> tuple[int, int]:
    """value -> (category, appended bits)"""
    t = 0
    a = abs(v)
    while a:
        t += 1
        a >>= 1
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def quantize_blocks(img: np.ndarray, qz: np.ndarray) -> np.ndarray:
    """(H, W) float plane (level-shifted) -> (bh, bw, 64) quantized
    coefficients in ZIGZAG sequence; ``qz`` is the quant table in zigzag
    order (as stored in DQT)."""
    h, w = img.shape
    bh, bw = h // 8, w // 8
    blocks = img.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("kx,ijxy,yl->ijkl", _B, blocks, _B.T)
    zz = coef.reshape(bh, bw, 64)[:, :, ZIGZAG]
    return np.round(zz / qz[None, None, :]).astype(np.int32)


def encode_jpeg(
    img: np.ndarray,
    subsampling: str = "444",
    quality_scale: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB -> baseline JPEG bytes.
    Dimensions must be multiples of 16 (keeps the fixture encoder free
    of edge-replication logic). ``quality_scale`` divides the Annex-K
    tables (bigger = finer quantization)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h % 16 or w % 16:
        raise ValueError("fixture encoder needs multiple-of-16 dims")
    # tables kept in ZIGZAG order throughout (the DQT wire format)
    ql = np.maximum(_STD_LUM_Q // quality_scale, 1)[ZIGZAG]
    qc = np.maximum(_STD_CHR_Q // quality_scale, 1)[ZIGZAG]
    if gray:
        y = img.astype(np.float64) - 128.0
        planes = [(quantize_blocks(y, ql), 0, 0)]
        comps = [(1, 1, 1, 0)]
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            sub = lambda p: (p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)))
            cb, cr = sub(cb), sub(cr)
            sf = (2, 2)
        elif subsampling == "444":
            sf = (1, 1)
        else:
            raise ValueError(subsampling)
        planes = [
            (quantize_blocks(y - 128.0, ql), 0, 0),
            (quantize_blocks(cb - 128.0, qc), 1, 1),
            (quantize_blocks(cr - 128.0, qc), 1, 1),
        ]
        comps = [(1, sf[0], sf[1], 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    out = bytearray(b"\xff\xd8")
    # DQT
    for tq, tab in ((0, ql), (1, qc)) if not gray else ((0, ql),):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(x) for x in tab)
    # SOF0
    nc = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for cid, hs, vs, tq in comps:
        out += bytes([cid, (hs << 4) | vs, tq])
    # DHT
    for tc, th, (counts, syms) in (
        (0, 0, _DC_L), (1, 0, _AC_L), (0, 1, _DC_C), (1, 1, _AC_C)
    )[: 2 if gray else 4]:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(syms))
        out += bytes([(tc << 4) | th]) + bytes(counts) + syms
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for i, (cid, _hs, _vs, _tq) in enumerate(comps):
        tbl = 0 if i == 0 else 1
        out += bytes([cid, (tbl << 4) | tbl])
    out += b"\x00\x3f\x00"
    # entropy-coded data
    dc_codes = [_enc_table(*_DC_L), _enc_table(*_DC_C)]
    ac_codes = [_enc_table(*_AC_L), _enc_table(*_AC_C)]
    bw_ = _BitWriter()
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = w // (8 * hmax), h // (8 * vmax)
    pred = [0] * len(comps)
    mcu_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw_.flush()
                out_rst = bytes([0xFF, 0xD0 + rst])
                bw_.out += out_rst
                rst = (rst + 1) % 8
                pred = [0] * len(comps)
            mcu_i += 1
            for ci, (coefs, _ti, _tj) in enumerate(planes):
                hs, vs = comps[ci][1], comps[ci][2]
                dct, act = (
                    dc_codes[0 if ci == 0 else 1],
                    ac_codes[0 if ci == 0 else 1],
                )
                for by in range(vs):
                    for bx in range(hs):
                        blk = coefs[my * vs + by, mx * hs + bx]
                        diff = int(blk[0]) - pred[ci]
                        pred[ci] = int(blk[0])
                        t, bits = _mag(diff)
                        code, ln = dct[t]
                        bw_.write(code, ln)
                        if t:
                            bw_.write(bits, t)
                        run = 0
                        for k in range(1, 64):
                            v = int(blk[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = act[0xF0]
                                bw_.write(code, ln)
                                run -= 16
                            s, bits = _mag(v)
                            code, ln = act[(run << 4) | s]
                            bw_.write(code, ln)
                            bw_.write(bits, s)
                            run = 0
                        if run:
                            code, ln = act[0x00]
                            bw_.write(code, ln)
    bw_.flush()
    out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)
