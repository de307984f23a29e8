"""As-of join semantics + multimodal plumbing tests."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from mintpy_spark.operators.asof import asof_join
from mintpy_spark.operators.multimodal import (
    _gif_interlace_order,
    _png_chunk,
    decode_media,
    sniff_media_type,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# Fixture encoders: they build the paletted, grayscale and GIF inputs that
# the decoders under test (decode_png, decode_gif, decode_bmp) must read.

def encode_bmp8(
    idx: np.ndarray, palette: np.ndarray, rle: bool = False
) -> bytes:
    """Index array (h, w) + palette (n, 3) RGB -> 8-bpp paletted BMP
    bytes (BITMAPINFOHEADER, bottom-up, BGRA color table), uncompressed
    or RLE8. Fixture encoder for the paletted decode path; the RLE
    stream mixes runs, word-aligned literals and end-of-line escapes."""
    h, w = idx.shape
    assert idx.dtype == np.uint8 and palette.dtype == np.uint8
    used = palette.shape[0]
    table = np.zeros((used, 4), np.uint8)
    table[:, :3] = palette[:, ::-1]  # RGB -> BGRA (alpha 0)
    if not rle:
        row = (w + 3) // 4 * 4
        body = np.zeros((h, row), np.uint8)
        body[:, :w] = idx[::-1]  # bottom-up
        pix, comp = body.tobytes(), 0
    else:
        out = bytearray()
        for r in idx[::-1]:
            x = 0
            while x < w:
                run = 1
                while x + run < w and r[x + run] == r[x] and run < 255:
                    run += 1
                if run >= 3 or r[x] == r[min(x + 1, w - 1)]:
                    out += bytes([run, r[x]])
                    x += run
                else:
                    lit = min(255, w - x)
                    # literal runs must be >= 3 bytes; shorter tails
                    # become unit runs
                    if lit >= 3:
                        out += bytes([0, lit]) + bytes(r[x : x + lit])
                        if lit & 1:
                            out.append(0)
                        x += lit
                    else:
                        out += bytes([1, r[x]])
                        x += 1
            out += bytes([0, 0])  # end of line
        out += bytes([0, 1])  # end of bitmap
        pix, comp = bytes(out), 1
    pix_off = 14 + 40 + used * 4
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + comp.to_bytes(4, "little") + len(pix).to_bytes(4, "little")
        + bytes(8) + used.to_bytes(4, "little") + bytes(4)
    )
    header = (
        b"BM" + (pix_off + len(pix)).to_bytes(4, "little")
        + bytes(4) + pix_off.to_bytes(4, "little")
    )
    return header + info + table.tobytes() + pix



def _pack_subbyte(idx: np.ndarray, depth: int) -> np.ndarray:
    """Sample array (h, w) with values < 2**depth -> packed scanline bytes
    (h, stride), MSB-first within each byte per the PNG spec."""
    h, w = idx.shape
    if depth == 8:
        return idx
    per = 8 // depth
    pad = (-w) % per
    padded = np.pad(idx, ((0, 0), (0, pad)))
    bits = (
        (padded[..., None] >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(h, -1).astype(np.uint8)
    return np.packbits(bits, axis=1)



def encode_png_gray(
    gray: np.ndarray, depth: int = 8, alpha: np.ndarray | None = None,
    trns_level: int | None = None,
) -> bytes:
    """Grayscale sample array (h, w) with raw values < 2**depth -> PNG
    bytes (color type 0, depths 1/2/4/8; or color type 4 gray+alpha at
    depth 8 when ``alpha`` is given). ``trns_level`` adds a 2-byte tRNS
    chunk (color-type-0 transparency). Fixture encoder for the grayscale
    decode path — pure stdlib like encode_png."""
    import zlib

    h, w = gray.shape
    assert gray.dtype == np.uint8 and depth in (1, 2, 4, 8)
    assert int(gray.max(initial=0)) < (1 << depth)
    if alpha is not None:
        assert depth == 8 and alpha.shape == gray.shape
        ctype = 4
        packed = np.stack([gray, alpha], axis=2).reshape(h, w * 2)
    else:
        ctype = 0
        packed = _pack_subbyte(gray, depth)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), packed], axis=1
    ).tobytes()
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, 0])
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if trns_level is not None:
        out += _png_chunk(b"tRNS", int(trns_level).to_bytes(2, "big"))
    return out + _png_chunk(b"IDAT", zlib.compress(raw, 6)) + _png_chunk(
        b"IEND", b""
    )



def encode_png_palette(
    idx: np.ndarray, palette: np.ndarray, depth: int = 8,
    trns: bytes | None = None,
) -> bytes:
    """Index array (h, w) + palette (n, 3) -> paletted PNG bytes (color
    type 3, PLTE chunk, optional tRNS, filter-0 scanlines). ``depth`` in
    {1, 2, 4, 8}; sub-byte depths pack MSB-first per the spec. Fixture
    encoder for the paletted decode path — pure stdlib like encode_png."""
    import zlib

    h, w = idx.shape
    assert idx.dtype == np.uint8 and palette.dtype == np.uint8
    assert depth in (1, 2, 4, 8) and int(idx.max(initial=0)) < (1 << depth)
    chunk = _png_chunk
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), _pack_subbyte(idx, depth)], axis=1
    ).tobytes()
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, 3, 0, 0, 0])
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(
        b"PLTE", palette.tobytes()
    )
    if trns is not None:
        out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b"")



def encode_gif(
    idx: np.ndarray, palette: np.ndarray, interlace: bool = False,
    transparent: int | None = None,
) -> bytes:
    """Index array (h, w) + palette (n, 3) -> single-frame GIF89a bytes.
    Fixture encoder, pure stdlib: emits a clear code before every pixel
    code so the LZW code size never grows — a valid (if bulky) stream any
    conformant decoder accepts. Optional interlace + GCE transparency."""
    h, w = idx.shape
    assert idx.dtype == np.uint8 and palette.dtype == np.uint8
    min_code = max(2, int(np.ceil(np.log2(max(palette.shape[0], 2)))))
    nslots = 1 << min_code
    assert int(idx.max(initial=0)) < nslots
    pal = np.zeros((nslots, 3), np.uint8)
    pal[: palette.shape[0]] = palette
    clear, end = nslots, nslots + 1
    csize = min_code + 1

    rows = idx
    if interlace:
        rows = idx[_gif_interlace_order(h)]
    acc = nbits = 0
    out = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += csize
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    for px in rows.ravel():
        put(int(px))
        put(clear)
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    blocks = b"".join(
        bytes([len(out[i : i + 255])]) + bytes(out[i : i + 255])
        for i in range(0, len(out), 255)
    )
    lsd_flags = 0x80 | (min_code - 1)  # global table, 2^min_code entries
    gif = (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([lsd_flags, 0, 0]) + pal.tobytes()
    )
    if transparent is not None:
        gif += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    gif += (
        bytes([0x2C]) + bytes(4)
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0])
        + bytes([min_code]) + blocks + bytes([0, 0x3B])
    )
    return gif


def test_asof_join_semantics(spark):
    right = spark.createDataFrame(
        [
            ("k1", _ts("2023-01-01 00:00:00"), 1.0),
            ("k1", _ts("2023-01-03 00:00:00"), 3.0),
            ("k1", _ts("2023-01-05 00:00:00"), 5.0),
            ("k2", _ts("2023-01-04 00:00:00"), 40.0),
        ],
        "k string, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [
            ("k1", _ts("2023-01-02 12:00:00")),  # -> 1.0
            ("k1", _ts("2023-01-03 00:00:00")),  # tie -> 3.0 (<= semantics)
            ("k1", _ts("2023-01-09 00:00:00")),  # -> 5.0
            ("k2", _ts("2023-01-01 00:00:00")),  # no prior -> NULL
            ("k3", _ts("2023-01-01 00:00:00")),  # key absent -> NULL
        ],
        "k string, ts timestamp",
    )
    out = {(r.k, r.ts): (r.v, r.asof_ts)
           for r in asof_join(left, right, key="k", ts="ts").collect()}
    assert out[("k1", _ts("2023-01-02 12:00:00"))][0] == 1.0
    assert out[("k1", _ts("2023-01-03 00:00:00"))][0] == 3.0
    assert out[("k1", _ts("2023-01-09 00:00:00"))] == (5.0, _ts("2023-01-05 00:00:00"))
    assert out[("k2", _ts("2023-01-01 00:00:00"))][0] is None
    assert out[("k3", _ts("2023-01-01 00:00:00"))][0] is None
    assert len(out) == 5  # probe count preserved


def test_sniff_media_type():
    assert sniff_media_type(b"\x89PNG\r\n\x1a\nxxxx") == "image/png"
    assert sniff_media_type(b"GIF89a...") == "image/gif"
    assert sniff_media_type(b"\x00\x00\x00\x18ftypisom") == "video/mp4"
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert sniff_media_type(b"%PDF-1.7") == "application/pdf"
    assert sniff_media_type(b"ID3\x04") == "audio/mpeg"
    assert sniff_media_type(b"\xff\xd8\xff\xe0") == "image/jpeg"
    assert sniff_media_type(b"RIFF....WAVE") == "audio/wav"
    # RIFF preamble without the WAVE form tag is NOT wav (ANI, RMID, ...)
    assert sniff_media_type(b"RIFFxxxxACON") == "application/octet-stream"
    assert sniff_media_type(b"whatever") == "application/octet-stream"


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"\x00" * 32),
        (2, b"\xff\xd8\xff" + b"\x01" * 32),
        (3, b"RIFF\x02\x02\x02\x02WAVE" + b"\x02" * 28),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_decode_media_stub_schema_and_determinism(media_df, spark):
    out = decode_media(media_df)
    assert out.columns == [
        "media_id", "media_type", "width", "height", "n_frames",
        "sample_rate", "duration_ms",
    ]
    rows1 = sorted(out.collect())
    rows2 = sorted(decode_media(media_df).collect())
    assert rows1 == rows2  # deterministic stub
    by_id = {r.media_id: r for r in rows1}
    assert by_id[1].media_type == "image/png"
    assert by_id[2].media_type == "image/jpeg"
    assert by_id[3].media_type == "audio/wav"
    assert all(r.width >= 16 and r.height >= 16 for r in rows1)


def test_decode_media_real_path_raises(media_df):
    import py4j.protocol
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, py4j.protocol.Py4JJavaError)):
        decode_media(media_df, decode_stub=False).collect()


def test_riff_family_split():
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert sniff_media_type(b"RIFF\x24\x00\x00\x00AVI LIST") == "video/avi"


def test_bmp_roundtrip_byte_exact():
    """encode_bmp -> decode_bmp recovers the pixel array exactly,
    including odd widths that exercise 4-byte row padding."""
    import numpy as np

    from mintpy_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (3, 5), (4, 4), (7, 2), (13, 9)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = encode_bmp(px)
        assert sniff_media_type(blob) == "image/bmp"
        assert np.array_equal(decode_bmp(blob), px)


def test_wav_roundtrip_byte_exact():
    """encode_wav -> decode_wav recovers samples + rate exactly, mono and
    stereo, including the odd-size chunk pad byte."""
    import numpy as np

    from mintpy_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    for n, ch, rate in [(1, 1, 8000), (101, 1, 16000), (64, 2, 44100)]:
        s = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
        blob = encode_wav(s, rate)
        assert sniff_media_type(blob) == "audio/wav"
        got, got_rate = decode_wav(blob)
        assert got_rate == rate
        assert np.array_equal(got, s)


def test_decode_media_real_bmp_wav(spark):
    """decode_media(decode_stub=False) runs the REAL decoders and
    recovers the planted metadata from genuine container bytes."""
    from mintpy_spark.operators.multimodal import (
        attach_synth_payload,
        synth_media_payload,
    )

    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    out = {
        r.doc_id: r
        for r in decode_media(
            attach_synth_payload(ids), decode_stub=False
        ).collect()
    }
    for i in range(10):
        r = out[i]
        if i % 2 == 0:
            assert r.media_type == ("image/png" if i % 4 == 0 else "image/bmp")
            assert (r.width, r.height, r.n_frames) == (4 + i % 13, 3 + i % 7, 1)
            assert r.sample_rate is None and r.duration_ms is None
        else:
            assert r.media_type == "audio/wav"
            frames = 100 + i % 50
            rate = (8000, 16000, 44100)[i % 3]
            assert (r.n_frames, r.sample_rate) == (frames, rate)
            assert r.duration_ms == frames * 1000 // rate
            assert r.width is None and r.height is None
    # payload synthesis itself is deterministic (fixture stability)
    assert synth_media_payload(4) == synth_media_payload(4)


def test_png_roundtrip_and_all_filters():
    """decode_png recovers pixels byte-exactly from (a) our filter-0
    encoder and (b) a spec-conformant stream using every filter type
    0-4 (forward-filtered here per the PNG spec, independently of the
    decoder's un-filtering)."""
    import zlib

    import numpy as np

    from mintpy_spark.operators.multimodal import (
        decode_png, encode_png, sniff_media_type,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    payload = encode_png(img)
    assert sniff_media_type(payload) == "image/png"
    assert np.array_equal(decode_png(payload), img)

    # hand-build a stream exercising filters 0..4 on successive rows
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        ft = y % 5
        cur, prior = flat[y], (flat[y - 1] if y else np.zeros(stride, int))
        line = np.zeros(stride, int)
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prior[i]
            c = prior[i - ch] if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (cur[i] - pred) & 0xFF
        out += bytes([ft]) + bytes(line.tolist())

    def chunk(tag, body):
        return (len(body).to_bytes(4, "big") + tag + body
                + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big"))

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    crafted = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(out)))
               + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(crafted), img)

    # unsupported profile (illegal 4-bit truecolor) fails loudly
    bad_ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([4, 2, 0, 0, 0])
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        decode_png(bad)


def test_png_paletted_roundtrip_all_depths():
    """Paletted decode (color type 3): byte-exact index->RGB recovery at
    every legal sub-16 depth, MSB-first sub-byte packing, non-multiple-
    of-per-byte widths (padding bits discarded), and tRNS alpha."""
    import numpy as np

    from mintpy_spark.operators.multimodal import (
        decode_png, sniff_media_type,
    )

    rng = np.random.default_rng(7)
    palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for depth, w in ((1, 13), (2, 7), (4, 5), (8, 6)):
        n = 1 << min(depth, 4)
        idx = rng.integers(0, n, (4, w), dtype=np.uint8)
        payload = encode_png_palette(idx, palette[:n], depth=depth)
        assert sniff_media_type(payload) == "image/png"
        got = decode_png(payload)
        assert got.shape == (4, w, 3), (depth, w)
        assert np.array_equal(got, palette[:n][idx]), f"depth={depth}"

    # tRNS: entries beyond the tRNS table default to alpha 255
    idx = np.array([[0, 1, 2, 3]], dtype=np.uint8)
    payload = encode_png_palette(idx, palette[:4], depth=8, trns=bytes([10, 200]))
    got = decode_png(payload)
    assert got.shape == (1, 4, 4)
    assert np.array_equal(got[..., :3], palette[:4][idx])
    assert got[0, :, 3].tolist() == [10, 200, 255, 255]


def test_png_flows_through_decode_media_like_bmp(spark):
    """PNG payloads run the REAL (non-stub) mapInPandas decode path and
    report the same dimensions as the equivalent BMP."""
    from mintpy_spark.operators.multimodal import (
        decode_media, encode_bmp, encode_png,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img))), (2, bytearray(encode_bmp(img)))],
        "id long, payload binary",
    )
    meta = {r.id: r for r in decode_media(df, decode_stub=False).collect()}
    assert (meta[1].media_type, meta[2].media_type) == ("image/png", "image/bmp")
    assert (meta[1].width, meta[1].height) == (9, 12)
    assert (meta[2].width, meta[2].height) == (9, 12)


def test_asof_null_valued_right_row_is_the_match(spark):
    """Review fix: the right payload travels as ONE struct — a newer
    NULL-valued right row IS the as-of match (NULL value, its own
    asof_ts), exactly like DuckDB ASOF JOIN; per-column ignorenulls
    windows stitched value and asof_ts from DIFFERENT rows."""
    right = spark.createDataFrame(
        [("k", _ts("2023-01-01 00:00:00"), 5.0),
         ("k", _ts("2023-01-01 02:00:00"), None)],
        "k string, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [("k", _ts("2023-01-01 03:00:00"))], "k string, ts timestamp"
    )
    r = asof_join(left, right, "k", "ts").collect()[0]
    assert r.v is None
    assert r.asof_ts == _ts("2023-01-01 02:00:00")


def test_asof_null_ts_right_rows_never_match(spark):
    """A right row with NULL ts cannot satisfy ts_r <= ts — it must not
    leak its payload into any probe."""
    right = spark.createDataFrame(
        [("k", None, 99.0)], "k string, ts timestamp, v double"
    )
    left = spark.createDataFrame(
        [("k", _ts("2023-01-01 03:00:00"))], "k string, ts timestamp"
    )
    r = asof_join(left, right, "k", "ts").collect()[0]
    assert r.v is None and r.asof_ts is None


def test_asof_tolerance_staleness_uses_the_matched_row(spark):
    """With the struct fix, the staleness gap is judged against the row
    the value actually came from."""
    from mintpy_spark.operators.asof import asof_join_tolerance

    right = spark.createDataFrame(
        [("k", _ts("2023-01-01 00:00:00"), 5.0),
         ("k", _ts("2023-01-01 02:00:00"), None)],
        "k string, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [("k", _ts("2023-01-01 02:30:00"))], "k string, ts timestamp"
    )
    # tolerance 1h: the as-of row (02:00, NULL) is fresh -> kept, value NULL;
    # the stale 00:00 value must NOT surface as a fresh match
    r = asof_join_tolerance(left, right, "k", "ts", 3600).collect()[0]
    assert r.v is None
    assert r.asof_ts == _ts("2023-01-01 02:00:00")


def test_png_grayscale_roundtrip_all_depths():
    """Grayscale decode (color type 0): raw samples scale to 8-bit by the
    exact 255/(2^d-1) factor at every legal sub-16 depth, sub-byte
    MSB-first packing with padding bits discarded, 2-byte tRNS level ->
    alpha 0, and gray+alpha (color type 4) pairs split correctly."""
    import numpy as np

    from mintpy_spark.operators.multimodal import (
        decode_png, sniff_media_type,
    )

    rng = np.random.default_rng(11)
    for depth, w in ((1, 13), (2, 7), (4, 5), (8, 6)):
        g = rng.integers(0, 1 << depth, (4, w), dtype=np.uint8)
        payload = encode_png_gray(g, depth=depth)
        assert sniff_media_type(payload) == "image/png"
        got = decode_png(payload)
        assert got.shape == (4, w, 3), (depth, w)
        g8 = (g.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
        assert np.array_equal(got, np.repeat(g8[..., None], 3, axis=2)), depth

    # tRNS level: matching raw samples get alpha 0, everything else 255
    g = np.array([[0, 1, 2, 3]], dtype=np.uint8)
    got = decode_png(encode_png_gray(g, depth=2, trns_level=2))
    assert got.shape == (1, 4, 4)
    assert got[0, :, 3].tolist() == [255, 255, 0, 255]
    assert got[0, :, 0].tolist() == [0, 85, 170, 255]

    # gray+alpha (color type 4): interleaved (g, a) pairs
    g = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    a = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    got = decode_png(encode_png_gray(g, depth=8, alpha=a))
    assert got.shape == (3, 5, 4)
    assert np.array_equal(got[..., 0], g) and np.array_equal(got[..., 3], a)
    assert np.array_equal(got[..., 1], g) and np.array_equal(got[..., 2], g)


def test_wav_wide_and_narrow_pcm_profiles():
    """WAV decode beyond 16-bit PCM: 8-bit unsigned re-centers at 128,
    24-bit sign-extends then keeps the top 16 bits, 32-bit PCM and
    float32 narrow to int16, and WAVE_FORMAT_EXTENSIBLE unwraps to the
    GUID's real format. Compressed formats still fail loudly."""
    import numpy as np
    import pytest

    from mintpy_spark.operators.multimodal import decode_wav

    def wav(fmt_body: bytes, data: bytes) -> bytes:
        chunks = (b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
                  + b"data" + len(data).to_bytes(4, "little") + data
                  + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    def fmt(audio_format: int, ch: int, rate: int, bits: int,
            extra: bytes = b"") -> bytes:
        block = ch * bits // 8
        return (audio_format.to_bytes(2, "little") + ch.to_bytes(2, "little")
                + rate.to_bytes(4, "little")
                + (rate * block).to_bytes(4, "little")
                + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
                + extra)

    # 8-bit unsigned PCM: 128 -> 0, 129 -> 256, 0 -> -32768
    s, r = decode_wav(wav(fmt(1, 1, 8000, 8), bytes([128, 129, 0, 255])))
    assert r == 8000 and s[:, 0].tolist() == [0, 256, -32768, 32512]

    # 24-bit PCM: top 16 bits survive; sign extension on the high byte
    vals = [0x000100, 0x7FFFFF, 0x800000, 0xFFFFFF]  # LE 3-byte payloads
    data = b"".join(v.to_bytes(3, "little") for v in vals)
    s, _ = decode_wav(wav(fmt(1, 1, 44100, 24), data))
    assert s[:, 0].tolist() == [1, 32767, -32768, -1]

    # 32-bit PCM narrows by >> 16
    data = np.array([1 << 16, -(1 << 16), 0x7FFFFFFF], np.int32).tobytes()
    s, _ = decode_wav(wav(fmt(1, 1, 16000, 32), data))
    assert s[:, 0].tolist() == [1, -1, 32767]

    # float32 scales [-1, 1] to int16 with clipping
    data = np.array([0.0, 1.0, -1.0, 2.0, 0.5], np.float32).tobytes()
    s, _ = decode_wav(wav(fmt(3, 1, 48000, 32), data))
    assert s[:, 0].tolist() == [0, 32767, -32767, 32767, 16384]

    # EXTENSIBLE wrapping PCM16: cbSize(2) + validbits(2) + mask(4) + GUID
    guid = (1).to_bytes(2, "little") + bytes(14)
    ext = (22).to_bytes(2, "little") + (16).to_bytes(2, "little") + bytes(4) + guid
    data = np.array([5, -7], np.int16).tobytes()
    s, _ = decode_wav(wav(fmt(0xFFFE, 1, 22050, 16, ext), data))
    assert s[:, 0].tolist() == [5, -7]

    # stereo interleave still splits channels for wide samples
    data = bytes([0, 128, 255, 128])  # L=-32768-ish, R=32512-ish offsets
    s, _ = decode_wav(wav(fmt(1, 2, 8000, 8), data))
    assert s.shape == (2, 2)

    # ADPCM (format 2) keeps failing loudly at the ffmpeg seam
    with pytest.raises(NotImplementedError):
        decode_wav(wav(fmt(2, 1, 8000, 4), b"\x00\x00"))


def _lzw_compress_ref(idx_bytes: bytes, min_code: int) -> bytes:
    """Independent by-the-book GIF LZW compressor (greedy longest-match,
    growing code size, clear only at stream start) — written from the
    spec, NOT from the decoder, so the pair agreeing certifies both."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    csize = min_code + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += csize
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    s = b""
    for b in idx_bytes:
        c = s + bytes([b])
        if c in table:
            s = c
            continue
        put(table[s])
        if next_code < 4096:
            table[c] = next_code
            next_code += 1
            # the encoder bumps its code size when the NEXT code to
            # assign no longer fits
            if next_code == (1 << csize) + 1 and csize < 12:
                csize += 1
        s = bytes([b])
    put(table[s])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_decode_real_lzw_and_variants():
    """GIF decode against an independent spec-written LZW compressor:
    repetitive data exercises real dictionary growth and code-size bumps;
    plus fixture-encoder roundtrip, interlace, transparency, sub-screen
    frame placement, and the animation seam."""
    import numpy as np
    import pytest

    from mintpy_spark.operators.multimodal import (
        decode_gif, sniff_media_type,
    )

    rng = np.random.default_rng(13)
    palette = rng.integers(0, 256, (8, 3), dtype=np.uint8)

    # hand-build a GIF whose stream comes from the independent compressor
    h, w = 16, 21
    idx = (np.indices((h, w)).sum(axis=0) % 5).astype(np.uint8)  # repetitive
    data = _lzw_compress_ref(idx.tobytes(), 3)
    blocks = b"".join(
        bytes([len(data[i:i + 255])]) + data[i:i + 255]
        for i in range(0, len(data), 255)
    )
    gif = (b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
           + bytes([0x80 | 2, 0, 0]) + palette.tobytes()
           + bytes([0x2C]) + bytes(4)
           + w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([0])
           + bytes([3]) + blocks + bytes([0, 0x3B]))
    assert sniff_media_type(gif) == "image/gif"
    assert np.array_equal(decode_gif(gif), palette[idx])

    # long random stream: forces growth through several code sizes
    big = rng.integers(0, 8, (40, 50), dtype=np.uint8)
    data = _lzw_compress_ref(big.tobytes(), 3)
    blocks = b"".join(
        bytes([len(data[i:i + 255])]) + data[i:i + 255]
        for i in range(0, len(data), 255)
    )
    gif2 = (b"GIF89a" + (50).to_bytes(2, "little") + (40).to_bytes(2, "little")
            + bytes([0x80 | 2, 0, 0]) + palette.tobytes()
            + bytes([0x2C]) + bytes(4)
            + (50).to_bytes(2, "little") + (40).to_bytes(2, "little")
            + bytes([0]) + bytes([3]) + blocks + bytes([0, 0x3B]))
    assert np.array_equal(decode_gif(gif2), palette[big])

    # fixture encoder roundtrip + interlace
    small = rng.integers(0, 8, (11, 7), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(small, palette)), palette[small])
    assert np.array_equal(
        decode_gif(encode_gif(small, palette, interlace=True)), palette[small]
    )

    # GCE transparency -> alpha channel
    got = decode_gif(encode_gif(small, palette, transparent=3))
    assert got.shape == (11, 7, 4)
    assert np.array_equal(got[..., 3] == 0, small == 3)
    assert np.array_equal(got[..., :3], palette[small])


def test_bmp_8bpp_paletted_and_rle8():
    """8-bpp paletted BMP: uncompressed rows (word-padded, bottom-up,
    BGRA table) and RLE8 streams (runs, word-aligned literals, EOL/EOB
    escapes, delta jumps leaving zero-filled gaps) both recover the
    palette-mapped RGB image."""
    import numpy as np

    from mintpy_spark.operators.multimodal import (
        decode_bmp, sniff_media_type,
    )

    rng = np.random.default_rng(17)
    palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    # mixed content: long runs + noisy literals, non-multiple-of-4 width
    idx = np.concatenate(
        [np.full((6, 5), 3, np.uint8), rng.integers(0, 16, (6, 6), dtype=np.uint8)],
        axis=1,
    )
    for rle in (False, True):
        payload = encode_bmp8(idx, palette, rle=rle)
        assert sniff_media_type(payload) == "image/bmp"
        got = decode_bmp(payload)
        assert got.shape == (6, 11, 3), rle
        assert np.array_equal(got, palette[idx]), f"rle={rle}"

    # hand-crafted RLE8 with a delta escape: run 2x val 5, delta (+2,+1),
    # run 3x val 7 on the next row; everything skipped stays index 0
    data = bytes([2, 5, 0, 2, 2, 1, 3, 7, 0, 0, 0, 1])
    from mintpy_spark.operators.multimodal import _bmp_unrle8

    out = _bmp_unrle8(data, 8, 3)
    assert out[0].tolist() == [5, 5, 0, 0, 0, 0, 0, 0]
    assert out[1].tolist() == [0, 0, 0, 0, 7, 7, 7, 0]
    assert out[2].tolist() == [0] * 8


def test_png_16bit_profiles_narrow_to_high_byte():
    """16-bit PNG (truecolor, grayscale, gray+alpha): big-endian samples
    narrow to their high byte; gray tRNS compares in the narrowed
    domain."""
    import zlib

    import numpy as np

    from mintpy_spark.operators.multimodal import decode_png

    def png(ihdr_tail, raw, extra=b""):
        def chunk(tag, body):
            return (len(body).to_bytes(4, "big") + tag + body
                    + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big"))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_tail) + extra
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    rng = np.random.default_rng(23)
    # truecolor 16-bit, 2x3
    px = rng.integers(0, 65536, (2, 3, 3), dtype=np.uint16)
    raw = b"".join(
        b"\x00" + px[y].astype(">u2").tobytes() for y in range(2)
    )
    ihdr = (3).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    got = decode_png(png(ihdr, raw))
    assert np.array_equal(got, (px >> 8).astype(np.uint8))

    # grayscale 16-bit with tRNS: level 0x1234 -> alpha 0 where high
    # byte matches 0x12
    g = np.array([[0x1234, 0x12FF, 0xABCD]], dtype=np.uint16)
    raw = b"\x00" + g.astype(">u2").tobytes()
    ihdr = (3).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([16, 0, 0, 0, 0])
    def chunk(tag, body):
        return (len(body).to_bytes(4, "big") + tag + body
                + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big"))
    got = decode_png(png(ihdr, raw, extra=chunk(b"tRNS", bytes([0x12, 0x34]))))
    assert got.shape == (1, 3, 4)
    assert got[0, :, 0].tolist() == [0x12, 0x12, 0xAB]
    assert got[0, :, 3].tolist() == [0, 0, 255]

    # gray+alpha 16-bit: interleaved (g, a) pairs narrow independently
    ga = np.array([[[0x8000, 0xFF00], [0x0100, 0x0000]]], dtype=np.uint16)
    raw = b"\x00" + ga.astype(">u2").tobytes()
    ihdr = (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([16, 4, 0, 0, 0])
    got = decode_png(png(ihdr, raw))
    assert got[0, :, 0].tolist() == [0x80, 0x01]
    assert got[0, :, 3].tolist() == [0xFF, 0x00]


def test_jpeg_dimensions_and_mp4_duration():
    """Header-only metadata decodes: JPEG SOF dims through APP segments
    and restart markers; MP4 mvhd v0/v1 through nested boxes."""
    import pytest

    from mintpy_spark.operators.multimodal import (
        decode_media, jpeg_dimensions, mp4_duration_ms,
    )

    app0 = b"\xff\xe0" + (15).to_bytes(2, "big") + b"JFIF\x00" + bytes(8)
    sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + bytes([3]) + bytes(9))
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert jpeg_dimensions(jpeg) == (640, 480)
    with pytest.raises(ValueError):
        jpeg_dimensions(b"\xff\xd8\xff\xe0" + (4).to_bytes(2, "big") + bytes(2))

    def box(tag, body):
        return (8 + len(body)).to_bytes(4, "big") + tag + body

    # v0 mvhd: timescale 1000, duration 5500 -> 5500 ms
    mvhd0 = bytes(1) + bytes(3) + bytes(8) + (1000).to_bytes(4, "big") \
        + (5500).to_bytes(4, "big") + bytes(80)
    mp4 = box(b"ftyp", b"isom" + bytes(8)) + box(b"moov", box(b"mvhd", mvhd0))
    assert mp4_duration_ms(mp4) == 5500
    # v1 mvhd: 64-bit duration, timescale 90000, duration 90000*3
    mvhd1 = bytes([1]) + bytes(3) + bytes(16) + (90000).to_bytes(4, "big") \
        + (270000).to_bytes(8, "big") + bytes(80)
    mp4b = box(b"ftyp", b"isom" + bytes(8)) + box(b"moov", box(b"mvhd", mvhd1))
    assert mp4_duration_ms(mp4b) == 3000

    # the real decode_media path carries both through mapInPandas
    from mintpy_spark.operators.multimodal import _real_meta
    assert _real_meta(jpeg)[:3] == ("image/jpeg", 640, 480)
    assert _real_meta(mp4)[5] == 5500


def test_jpeg_fill_byte_padding_before_marker():
    """Legal 0xFF fill bytes before a marker must not derail the SOF
    walk (the fill byte is not a marker with a length)."""
    from mintpy_spark.operators.multimodal import jpeg_dimensions

    sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
            + (10).to_bytes(2, "big") + (20).to_bytes(2, "big")
            + bytes([3]) + bytes(9))
    jpeg = b"\xff\xd8" + b"\xff\xff\xff" + sof0 + b"\xff\xd9"
    assert jpeg_dimensions(jpeg) == (20, 10)
