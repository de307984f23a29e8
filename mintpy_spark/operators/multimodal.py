"""Multimodal (image/audio/video) column plumbing.

Treats media payloads as opaque ``binary`` columns with typed metadata,
exactly like the engine treats ``html``. The Spark-side machinery — schema,
Arrow batch shape, mapInPandas signatures, partition behavior — is real and
tested. ``decode_media`` has a real tier and a stub tier:

* ``decode_stub=False`` runs REAL pure-NumPy decoders — BMP
  (decode_bmp), PNG via stdlib zlib (decode_png, all color types +
  filters), GIF (full LZW) and WAV (decode_wav); JPEG dimensions come
  from the SOF header (jpeg_dimensions) and MP4 duration from the mvhd
  box (mp4_duration_ms) — and raises ``NotImplementedError`` at the
  exact call site where PIL/ffmpeg would slot in for the remaining
  formats.
* ``decode_stub=True`` derives deterministic fake metadata from a
  payload digest for any format (plumbing tests, compressed formats).

At 100 TB this stage is the same shape as extract_text: embarrassingly
parallel payload map at scan parallelism, metadata-only columns flowing on.

Reference analog: the prep_* readers that sniff format + extract typed
metadata from opaque processor payloads (reference: src/mintpy/prep_aria.py,
utils/readfile.py:559-2110 format sniffers).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = (
    "media_type string, width int, height int, n_frames int, "
    "sample_rate int, duration_ms bigint"
)

# (offset, magic) -> media type; checked in declaration order, longest
# match semantics preserved by listing more specific patterns first.
_MAGIC: list[tuple[int, bytes, str]] = [
    (0, b"\x89PNG\r\n\x1a\n", "image/png"),
    (0, b"\xff\xd8\xff", "image/jpeg"),
    (0, b"GIF87a", "image/gif"),
    (0, b"GIF89a", "image/gif"),
    (0, b"BM", "image/bmp"),
    (0, b"\x1aE\xdf\xa3", "video/webm"),
    (4, b"ftyp", "video/mp4"),
    (0, b"ID3", "audio/mpeg"),
    (0, b"\xff\xfb", "audio/mpeg"),
    (0, b"OggS", "audio/ogg"),
    (0, b"fLaC", "audio/flac"),
    (0, b"\x1f\x8b", "application/gzip"),
    (0, b"PK\x03\x04", "application/zip"),
    (0, b"%PDF", "application/pdf"),
]


def sniff_media_type(payload: bytes) -> str:
    """Magic-byte format sniffing — the readfile.py-style format dispatch
    (reference utils/readfile.py:559-2110 dispatches on leading bytes /
    extensions; here the container formats a crawl actually carries).
    Supports offset patterns (MP4's ftyp at byte 4) and the RIFF family
    split (WAV vs WebP share the RIFF preamble, differ at bytes 8..12)."""
    if payload is None:
        return "unknown"
    if payload[:4] == b"RIFF":
        # the RIFF preamble alone is NOT wav: require the WAVE form tag,
        # else RIFF/ANI, RIFF/RMID etc. would be mislabeled audio/wav and
        # decode_wav would die on them with ValueError instead of the
        # documented unknown-container fallthrough
        if payload[8:12] == b"WEBP":
            return "image/webp"
        if payload[8:12] == b"AVI ":
            return "video/avi"
        if payload[8:12] == b"WAVE":
            return "audio/wav"
        return "application/octet-stream"
    for off, magic, mtype in _MAGIC:
        if payload[off : off + len(magic)] == magic:
            return mtype
    return "application/octet-stream"


# ---------------------------------------------------------------------------
# Real codecs (pure NumPy): uncompressed 24-bpp BMP, 16-bit PCM WAV.
# Both formats are header + raw sample array — decodable byte-exactly
# without any image/audio library. Encoders exist so tests and the
# driver query can synthesize deterministic fixtures and round-trip them.
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (h, w, 3) -> BMP bytes (BITMAPINFOHEADER, 24 bpp,
    bottom-up rows, 4-byte row padding — the classic Windows layout)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    row = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, row), dtype=np.uint8)
    # bottom-up scanlines, BGR channel order
    body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    raw = body.tobytes()
    pix_off = 14 + 40
    header = (
        b"BM"
        + (pix_off + len(raw)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + pix_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")   # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")   # BI_RGB (uncompressed)
        + len(raw).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    return header + raw


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes -> RGB uint8 array (h, w, 3). Real decode: parses the
    BITMAPFILEHEADER and either DIB header generation — the 12-byte
    BITMAPCOREHEADER (OS/2 v1: uint16 dims, no compression field) or the
    40+-byte BITMAPINFOHEADER family — honoring the pixel-data offset,
    row padding, bottom-up vs top-down orientation, and BGR order.
    Only the uncompressed 24-bpp profile is supported (anything else is
    where PIL would slot in)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = int.from_bytes(payload[10:14], "little")
    dib = int.from_bytes(payload[14:18], "little")
    if dib == 12:  # BITMAPCOREHEADER: uint16 w/h, always bottom-up
        w = int.from_bytes(payload[18:20], "little")
        h = int.from_bytes(payload[20:22], "little")
        bpp = int.from_bytes(payload[24:26], "little")
        comp = 0  # the core header has no compression field
    elif dib < 40:
        raise NotImplementedError(f"unknown {dib}-byte BMP DIB header")
    else:
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
    bottom_up = h > 0
    hh = abs(h)
    if bpp == 8 and comp in (0, 1) and dib >= 40:
        # paletted profile: BGRA color table follows the DIB header
        # (biClrUsed entries, 0 meaning 256)
        used = int.from_bytes(payload[46:50], "little") or 256
        pal = np.frombuffer(
            payload, np.uint8, count=used * 4, offset=14 + dib
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRA -> RGB
        if comp == 0:
            row = (w + 3) // 4 * 4
            body = np.frombuffer(payload, np.uint8, count=row * hh, offset=pix_off)
            idx = body.reshape(hh, row)[:, :w]
        else:
            idx = _bmp_unrle8(payload[pix_off:], w, hh)
        if bottom_up:
            idx = idx[::-1]
        return pal[idx].copy()
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bpp or 8-bpp paletted/RLE8 BMP decoded "
            f"here (got bpp={bpp}, compression={comp}); other profiles "
            f"need PIL"
        )
    row = (w * 3 + 3) // 4 * 4
    body = np.frombuffer(payload, np.uint8, count=row * hh, offset=pix_off)
    img = body.reshape(hh, row)[:, : w * 3].reshape(hh, w, 3)
    if bottom_up:
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR -> RGB


def _bmp_unrle8(data: bytes, w: int, h: int) -> np.ndarray:
    """RLE8 decompress -> (h, w) uint8 index rows in FILE order (caller
    flips for bottom-up). Encoded runs are (count, value) pairs; count 0
    escapes to end-of-line (0), end-of-bitmap (1), delta (2, dx, dy) or a
    word-aligned literal run. Sequential by construction — per-payload
    work inside the Arrow decode seam."""
    out = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    while pos + 1 < len(data):
        if y >= h:
            break
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt > 0:  # run
            n = min(cnt, w - x)
            out[y, x : x + n] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta jump
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # literal run of `val` bytes, padded to a word boundary
            lit = np.frombuffer(data, np.uint8, count=val, offset=pos)
            n = min(val, w - x)
            out[y, x : x + n] = lit[:n]
            x += val
            pos += val + (val & 1)
    return out


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 array (n,) or (n, channels) -> canonical RIFF/WAVE bytes
    (PCM fmt chunk + data chunk)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    assert samples.dtype == np.int16
    n, ch = samples.shape
    data = samples.tobytes()  # interleaved little-endian frames
    byte_rate = sample_rate * ch * 2
    fmt = (
        (1).to_bytes(2, "little")          # PCM
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (ch * 2).to_bytes(2, "little")   # block align
        + (16).to_bytes(2, "little")       # bits per sample
    )
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 samples (n, channels), sample_rate). Real
    decode: walks the RIFF chunk list (including odd-size padding), reads
    the fmt chunk, reshapes the data chunk. Supported: PCM at 8 (unsigned,
    re-centered), 16 (native), 24 (sign-extended) and 32 bits, IEEE
    float32, and WAVE_FORMAT_EXTENSIBLE wrapping either — wider-than-16
    samples downconvert to int16 by taking the top 16 bits, the standard
    lossy narrowing (amplitude semantics preserved). Compressed codecs (ADPCM/MP3/...) are where ffmpeg would
    slot in."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 0xFFFE and len(fmt) >= 26:
        # WAVE_FORMAT_EXTENSIBLE: the real format is the first two bytes
        # of the SubFormat GUID at offset 24 of the fmt body
        audio_format = int.from_bytes(fmt[24:26], "little")
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(data, np.int16)
    elif audio_format == 1 and bits == 8:
        # 8-bit PCM is unsigned, midpoint 128; widen to the int16 scale
        samples = (
            (np.frombuffer(data, np.uint8).astype(np.int16) - 128) << 8
        )
    elif audio_format == 1 and bits == 24:
        b = np.frombuffer(data, np.uint8)
        b = b[: len(b) // 3 * 3].reshape(-1, 3).astype(np.int32)
        raw = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        raw = np.where(raw >= 1 << 23, raw - (1 << 24), raw)
        samples = (raw >> 8).astype(np.int16)
    elif audio_format == 1 and bits == 32:
        samples = (np.frombuffer(data, np.int32) >> 16).astype(np.int16)
    elif audio_format == 3 and bits == 32:
        f = np.clip(np.frombuffer(data, np.float32), -1.0, 1.0)
        samples = np.round(f * 32767.0).astype(np.int16)
    else:
        raise NotImplementedError(
            f"only 8/16/24/32-bit PCM or float32 WAV decoded here "
            f"(format={audio_format}, bits={bits}); compressed codecs "
            f"need ffmpeg"
        )
    samples = samples[: len(samples) // channels * channels]
    return samples.reshape(-1, channels).copy(), rate


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (h, w, 3) -> PNG bytes (8-bit truecolor, filter 0
    scanlines, single zlib IDAT). Pure stdlib: zlib for the deflate
    stream and CRCs — no PIL anywhere."""
    import zlib

    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    chunk = _png_chunk
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # bitdepth 8, truecolor, deflate, filter0, no interlace
    )
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()  # one filter-type-0 byte per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big") + tag + body
        + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _png_unfilter(rows: np.ndarray, stride: int, fo: int) -> np.ndarray:
    """Un-filter one (sub-)image: rows is (h, stride+1) raw bytes with the
    per-scanline filter byte in column 0; returns (h, stride) uint8.
    None and Up vectorize whole-row; Sub is a per-lane modular cumsum;
    Average and Paeth carry a nonlinear left-dependency, so they fall
    back to a per-pixel loop on just those rows (an encoder emitting
    filter 0, like ours, never pays it)."""
    h = rows.shape[0]
    out = np.zeros((h, stride), np.uint16)
    prior = np.zeros(stride, np.uint16)
    for y in range(h):
        ft, line = rows[y, 0], rows[y, 1:].astype(np.uint16)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up
            rec = (line + prior) & 0xFF
        elif ft == 1:  # Sub: per-lane modular cumsum
            rec = line.copy()
            for k in range(fo):
                rec[k::fo] = np.cumsum(line[k::fo], dtype=np.uint64) & 0xFF
        else:  # Average (3) / Paeth (4): sequential left-dependency
            rec = np.zeros(stride, np.uint16)
            for i in range(stride):
                a = int(rec[i - fo]) if i >= fo else 0
                b = int(prior[i])
                if ft == 3:
                    rec[i] = (int(line[i]) + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prior[i - fo]) if i >= fo else 0
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (int(line[i]) + pred) & 0xFF
        out[y] = rec
        prior = rec
    return out.astype(np.uint8)


def _png_bytes_to_samples(
    b: np.ndarray, w: int, ch: int, depth: int
) -> np.ndarray:
    """Unfiltered scanline bytes (h, stride) -> samples. 8-bit: (h, w, ch)
    channel array. Sub-byte (paletted): (h, w) index array, unpacking
    MSB-first within each byte and discarding row-padding bits."""
    h, stride = b.shape
    if depth == 16:
        # big-endian 16-bit samples narrow to their high byte (the
        # standard lossy 16->8 downconversion, like the WAV path)
        hi = b[:, : w * ch * 2].reshape(h, w * ch, 2)[:, :, 0]
        return hi[:, :w] if ch == 1 else hi.reshape(h, w, ch)
    if depth == 8:
        if ch == 1:
            return b[:, :w]
        return b.reshape(h, w, ch) if stride == w * ch else b[:, : w * ch].reshape(h, w, ch)
    bits = np.unpackbits(b, axis=1)
    per = 8 // depth
    idx = np.zeros((h, stride * per), np.uint8)
    for k in range(depth):
        idx = (idx << 1) | bits[:, k::depth][:, : stride * per]
    return idx[:, :w]


# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec order
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> RGB(A) uint8 array (h, w, 3|4). Real decode, pure
    stdlib + NumPy: chunk walk, zlib-inflated IDAT, full scanline
    un-filtering (all five filter types 0-4), and Adam7 de-interlacing.
    Supported profile: every legal (color type, bit depth) combination —
    truecolor/truecolor-alpha at 8/16 bits, grayscale at 1/2/4/8/16,
    gray+alpha at 8/16, paletted at 1/2/4/8 (PLTE + optional tRNS) —
    interlaced or not; 16-bit samples narrow to their high byte, the
    standard lossy downconversion.
    """
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    plte = trns = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, ctype, _comp, _filt, interlace = body[8:13]
            ok = (ctype in (2, 6) and depth in (8, 16)) or (
                ctype == 0 and depth in (1, 2, 4, 8, 16)
            ) or (ctype == 3 and depth in (1, 2, 4, 8)) or (
                ctype == 4 and depth in (8, 16)
            )
            if not ok:
                raise NotImplementedError(
                    f"unsupported PNG profile (depth={depth}, "
                    f"colortype={ctype})"
                )
            ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    # the filter offset `fo` is bytes-per-pixel floored to >= 1 (PNG
    # spec: for sub-byte depths, `a` is the byte one back)
    fo = max(1, (ch * depth) // 8)

    if not interlace:
        stride = (w * ch * depth + 7) // 8
        rows = raw.reshape(h, stride + 1)
        samples = _png_bytes_to_samples(_png_unfilter(rows, stride, fo), w, ch, depth)
    else:
        # Adam7: seven independently-filtered sub-images concatenated in
        # the deflate stream; scatter each onto its (y0::dy, x0::dx) grid
        shape = (h, w) if ch == 1 else (h, w, ch)
        samples = np.zeros(shape, np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sp = (wp * ch * depth + 7) // 8
            rows = raw[off : off + hp * (sp + 1)].reshape(hp, sp + 1)
            off += hp * (sp + 1)
            sub = _png_bytes_to_samples(_png_unfilter(rows, sp, fo), wp, ch, depth)
            samples[y0::dy, x0::dx] = sub

    if ctype == 0:
        # grayscale: scale raw samples to 8-bit (255/(2^d-1) is integral
        # for d in 1/2/4/8; 16-bit already narrowed to its high byte),
        # expand to RGB; tRNS holds a 2-byte gray level that maps to
        # alpha 0 (compared in the narrowed domain for depth 16)
        d_eff = min(depth, 8)
        g8 = (
            samples.astype(np.uint16) * (255 // ((1 << d_eff) - 1))
        ).astype(np.uint8)
        rgb = np.repeat(g8[..., None], 3, axis=2)
        if trns is None or trns.shape[0] < 2:
            return rgb
        if depth == 16:
            level = int(trns[0])
        else:
            level = (int(trns[0]) << 8) | int(trns[1])
        alpha = np.where(samples.astype(np.int32) == level, 0, 255)
        return np.concatenate(
            [rgb, alpha.astype(np.uint8)[..., None]], axis=2
        )
    if ctype == 4:
        rgb = np.repeat(samples[..., 0:1], 3, axis=2)
        return np.concatenate([rgb, samples[..., 1:2]], axis=2)
    if plte is None:
        return samples
    idx = samples
    if idx.max(initial=0) >= plte.shape[0]:
        raise ValueError("PNG palette index out of range")
    rgb = plte[idx]
    if trns is None:
        return rgb
    alpha_lut = np.full(plte.shape[0], 255, np.uint8)
    alpha_lut[: trns.shape[0]] = trns
    return np.concatenate([rgb, alpha_lut[idx][..., None]], axis=2)


def _gif_interlace_order(h: int) -> list[int]:
    """Four-pass GIF interlace row order (rows 0::8, 4::8, 2::4, 1::2) —
    shared by encoder and decoder so they cannot desynchronize."""
    return (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )


def _gif_lzw(min_code: int, data: bytes, npix: int) -> np.ndarray:
    """GIF LZW decompress -> uint8 index array of length npix. LSB-first
    bitstream, growing code size to 12 bits, deferred-clear semantics.
    Inherently sequential (the string table grows code-by-code) — this is
    per-payload work inside the Arrow decode seam, like zlib for PNG."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    literals = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(literals)
    csize = min_code + 1
    prev: bytes | None = None
    acc = nbits = 0
    out = bytearray()
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= csize:
            code = acc & ((1 << csize) - 1)
            acc >>= csize
            nbits -= csize
            if code == clear:
                table = list(literals)
                csize = min_code + 1
                prev = None
                continue
            if code == end:
                return np.frombuffer(bytes(out[:npix]), np.uint8)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt GIF LZW stream")
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
            out += entry
            prev = entry
            if len(table) == (1 << csize) and csize < 12:
                csize += 1
            if len(out) >= npix:
                return np.frombuffer(bytes(out[:npix]), np.uint8)
    return np.frombuffer(bytes(out[:npix]), np.uint8)


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF bytes -> RGB(A) uint8 array (h, w, 3|4), first frame. Real
    decode, pure stdlib + NumPy: logical screen descriptor, global/local
    color tables, extension-block walk (the 89a GCE supplies the
    transparent index -> alpha channel), four-pass interlace reorder, and
    full LZW decompression with growing code sizes. Animation beyond the
    first image descriptor is where PIL/ffmpeg would slot in."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(payload, np.uint8, count=n * 3, offset=pos)
        gct = gct.reshape(-1, 3)
        pos += n * 3
    transparent = None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1]
            pos += 2
            while payload[pos] != 0:
                if label == 0xF9 and payload[pos] == 4:
                    gce = payload[pos + 1 : pos + 5]
                    if gce[0] & 1:
                        transparent = gce[3]
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        iflags = payload[pos + 9]
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            table = np.frombuffer(
                payload, np.uint8, count=n * 3, offset=pos
            ).reshape(-1, 3)
            pos += n * 3
        if table is None:
            raise ValueError("GIF image with no color table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        idx = _gif_lzw(min_code, bytes(data), w * h).reshape(h, w)
        if iflags & 0x40:  # four-pass interlace
            de = np.zeros_like(idx)
            de[_gif_interlace_order(h)] = idx
            idx = de
        if idx.max(initial=0) >= table.shape[0]:
            raise ValueError("GIF color index out of range")
        rgb = table[idx]
        # frames smaller than the logical screen pad onto it (first
        # frame only; disposal/animation is out of scope)
        if (left, top, w, h) != (0, 0, sw, sh):
            full = np.zeros((sh, sw, 3), np.uint8)
            full[top : top + h, left : left + w] = rgb
            rgb = full
        if transparent is None:
            return rgb
        alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
        if (left, top, w, h) != (0, 0, sw, sh):
            fa = np.zeros((sh, sw), np.uint8)
            fa[top : top + h, left : left + w] = alpha
            alpha = fa
        return np.concatenate([rgb, alpha[..., None]], axis=2)
    raise ValueError("GIF contains no image descriptor")


def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """JPEG bytes -> (width, height) from the SOF marker — a real header
    parse (marker walk honoring segment lengths), no pixel decode (the
    DCT/Huffman stages are where PIL would slot in)."""
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill bytes may pad before any marker
            pos += 1
            continue
        if marker == 0xD9:  # EOI terminates the stream — trailing bytes
            break  # (thumbnails, concatenated payloads) are not segments
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        ln = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        # SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(payload[pos + 5 : pos + 7], "big")
            w = int.from_bytes(payload[pos + 7 : pos + 9], "big")
            return w, h
        if marker == 0xDA:  # start of scan: no SOF seen before pixels
            break
        pos += 2 + ln
    raise ValueError("JPEG missing SOF marker")


def mp4_duration_ms(payload: bytes) -> int:
    """MP4 bytes -> duration in ms from moov/mvhd — a real ISO-BMFF box
    walk (32/64-bit sizes, version 0/1 mvhd layouts), no sample decode."""

    def walk(buf: bytes, start: int, end: int, path: tuple[str, ...]):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos : pos + 4], "big")
            box = buf[pos + 4 : pos + 8].decode("latin1")
            hdr = 8
            if size == 1:  # 64-bit largesize
                size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
                hdr = 16
            elif size == 0:  # box extends to end of file
                size = end - pos
            if box == path[0]:
                if len(path) == 1:
                    return pos + hdr, pos + size
                return walk(buf, pos + hdr, pos + size, path[1:])
            pos += max(size, 8)
        return None

    span = walk(payload, 0, len(payload), ("moov", "mvhd"))
    if span is None:
        raise ValueError("MP4 missing moov/mvhd box")
    s, _ = span
    version = payload[s]
    if version == 1:
        timescale = int.from_bytes(payload[s + 20 : s + 24], "big")
        duration = int.from_bytes(payload[s + 24 : s + 32], "big")
    else:
        timescale = int.from_bytes(payload[s + 12 : s + 16], "big")
        duration = int.from_bytes(payload[s + 16 : s + 20], "big")
    if timescale == 0:
        raise ValueError("MP4 mvhd timescale 0")
    return duration * 1000 // timescale


def _real_meta(payload: bytes) -> tuple[str, int | None, int | None,
                                        int | None, int | None, int | None]:
    """Real metadata decode for the supported formats. For WAV, n_frames
    is the sample-frame count (one frame = one sample across channels)
    and duration_ms = floor(frames * 1000 / rate)."""
    mtype = sniff_media_type(payload)
    if mtype == "image/bmp":
        img = decode_bmp(payload)
        return mtype, img.shape[1], img.shape[0], 1, None, None
    if mtype == "image/png":
        img = decode_png(payload)
        return mtype, img.shape[1], img.shape[0], 1, None, None
    if mtype == "image/gif":
        img = decode_gif(payload)
        return mtype, img.shape[1], img.shape[0], 1, None, None
    if mtype == "image/jpeg":
        w, h = jpeg_dimensions(payload)
        return mtype, w, h, 1, None, None
    if mtype == "video/mp4":
        return mtype, None, None, None, None, mp4_duration_ms(payload)
    if mtype == "audio/wav":
        samples, rate = decode_wav(payload)
        frames = samples.shape[0]
        return mtype, None, None, frames, rate, frames * 1000 // rate
    raise NotImplementedError(
        f"real decode for {mtype} requires PIL/ffmpeg; BMP, PNG, GIF and "
        "WAV have pure-NumPy/stdlib decoders, JPEG and MP4 header readers"
    )


def _stub_meta(payload: bytes) -> tuple[str, int, int, int, int, int]:
    """Deterministic fake decode: metadata derived from a payload digest.
    Stands in for PIL.Image.open / ffprobe; same row shape, same types."""
    h = hashlib.sha1(payload).digest()
    mtype = sniff_media_type(payload)
    width = 16 + h[0] * 8
    height = 16 + h[1] * 8
    n_frames = 1 + h[2] % 64
    sample_rate = 8000 + (h[3] % 5) * 8000
    duration_ms = int.from_bytes(h[4:6], "big")
    return mtype, width, height, n_frames, sample_rate, duration_ms


def decode_media(
    df: DataFrame, payload_col: str = "payload", decode_stub: bool = True
) -> DataFrame:
    """payload binary -> typed media metadata columns (Arrow-batched).

    ``decode_stub=False`` runs the REAL decoders (see _real_meta)
    and raises NotImplementedError per unsupported format — no caller can
    mistake stub output for real decode.
    """
    passthrough = [c for c in df.columns if c != payload_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != payload_col]
        + [MEDIA_META_SCHEMA]
    )
    meta_fn = _stub_meta if decode_stub else _real_meta

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads yield a null-metadata row instead of killing the
            # task (one bad record cannot kill a scan — extract_text's rule)
            metas = [
                meta_fn(bytes(p)) if p is not None
                else ("unknown", None, None, None, None, None)
                for p in pdf[payload_col]
            ]
            out = pdf[passthrough].copy()
            cols = list(zip(*metas)) if metas else [[]] * 6
            for name, vals, dtype in zip(
                ["media_type", "width", "height", "n_frames", "sample_rate", "duration_ms"],
                cols,
                ["object", "Int32", "Int32", "Int32", "Int32", "Int64"],
            ):
                out[name] = pd.Series(vals, index=pdf.index, dtype=dtype)
            yield out

    return df.mapInPandas(run, schema)


def synth_media_payload(doc_id: int) -> bytes:
    """Deterministic fixture payload for tests and the driver query:
    even ids -> image with width=4+id%13, height=3+id%7 (id%4==0 -> PNG
    through the zlib pipeline, id%4==2 -> BMP); odd ids -> WAV with
    rate in (8000, 16000, 44100) by id%3, frames=100+id%50,
    channels=1+(id//2)%2. The planted metadata is an analytic function of
    the id, so a SQL oracle can verify the REAL decoders recover it from
    genuine container bytes (headers, padding, chunk walk, inflate +
    un-filter — not an echo of the formula)."""
    if doc_id % 2 == 0:
        w, h = 4 + doc_id % 13, 3 + doc_id % 7
        yy, xx = np.mgrid[0:h, 0:w]
        base = (xx * 3 + yy * 7 + doc_id).astype(np.int64)
        px = np.stack([base % 256, (base * 2) % 256, (base * 5) % 256], axis=2)
        enc = encode_png if doc_id % 4 == 0 else encode_bmp
        return enc(px.astype(np.uint8))
    rate = (8000, 16000, 44100)[doc_id % 3]
    frames = 100 + doc_id % 50
    ch = 1 + (doc_id // 2) % 2
    t = np.arange(frames * ch, dtype=np.int64)
    samples = ((t * 2731 + doc_id * 17) % 65536 - 32768).astype(np.int16)
    return encode_wav(samples.reshape(frames, ch), rate)


def attach_synth_payload(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Attach the deterministic fixture payload (Arrow-batched)."""
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("binary")
    def synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_media_payload(int(i)))

    return df.withColumn(payload_col, synth(col(id_col)))
