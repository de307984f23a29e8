"""Byte-identity invariant: extract_text(html) == text for every row
(BASELINE.json input_hint), mirroring the reference's exact-dtype scan
contract (utils/readfile.py:319-388 returns stored values unaltered)."""

from __future__ import annotations

import codecs
import random
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mintpy_spark.datagen import gen_pages
from mintpy_spark.operators.extract import (
    BODY_CLOSE,
    BODY_OPEN,
    extract_text,
)


def whole_payload_decode(html_col: str = "html"):
    """Reference extractor: decode the WHOLE payload as UTF-8 (malformed
    sequences -> U+FFFD), then cut between the first ``<body>`` and the
    last ``</body>`` with character arithmetic on ``substring_index``
    prefixes/suffixes. NULL when malformed. ``extract_text`` must match it
    byte for byte while decoding only the body."""
    s = F.decode(F.col(html_col), "UTF-8")
    ls = F.length(s)
    lp = F.length(F.substring_index(s, BODY_OPEN.decode(), 1))
    lt = F.length(F.substring_index(s, BODY_CLOSE.decode(), -1))
    body_len = ls - lp - lt - F.lit(len(BODY_OPEN) + len(BODY_CLOSE))
    body = F.substring(s, lp + F.lit(len(BODY_OPEN) + 1), F.greatest(body_len, F.lit(0)))
    ok = (lp < ls) & (lt < ls) & (body_len >= 0)
    return F.when(ok, body)


# The Python twin: an Arrow-batched ``mapInPandas`` extractor that cuts the
# body with ``bytes.find`` and decodes it with the ``jvm-replace`` error
# handler, which replaces malformed input exactly as the JVM's UTF-8 decoder
# does. ``extract_text`` must match it byte for byte. The Python workers
# cannot import this test module, so its functions travel by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

JVM_REPLACE = "jvm-replace"


def _jvm_replace(exc: UnicodeError) -> tuple[str, int]:
    """Decode error handler: ``errors="replace"`` as the JVM's UTF-8
    decoder does it. The two differ on one shape only: an encoded surrogate
    lead ``ED [A0-BF]`` (plus its continuation byte ``[80-BF]`` when one
    follows). Python rejects the ``ED`` alone and then each continuation
    byte, writing up to three U+FFFD; the JVM reads the sequence as one
    malformed character and writes one U+FFFD."""
    if isinstance(exc, UnicodeDecodeError):
        b, i = exc.object, exc.start
        if b[i] == 0xED and i + 1 < len(b) and 0xA0 <= b[i + 1] <= 0xBF:
            j = i + 2
            if j < len(b) and 0x80 <= b[j] <= 0xBF:
                j += 1
            return "\ufffd", j
    return codecs.replace_errors(exc)


def extract_text_bytes(html: bytes) -> bytes | None:
    """Recover the embedded text bytes from one payload.

    Returns None when no well-formed body is present (malformed page).
    Uses the FIRST ``<body>`` and the LAST ``</body>`` so text containing
    the literal marker substrings round-trips unharmed.
    """
    if html is None:
        return None
    i = html.find(BODY_OPEN)
    if i < 0:
        return None
    j = html.rfind(BODY_CLOSE)
    if j < i:
        return None
    return html[i + len(BODY_OPEN): j]


def extract_text_arrow(
    pages: DataFrame,
    html_col: str = "html",
    out_col: str = "extracted_text",
    keep_html: bool = False,
) -> DataFrame:
    """Arrow/pandas implementation of extract_text (see above)."""
    out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields
                  if keep_html or f.name != html_col]
    schema = ", ".join(out_fields + [f"{out_col} string"])
    keep_cols = [f.name for f in pages.schema.fields if keep_html or f.name != html_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codecs.register_error(JVM_REPLACE, _jvm_replace)  # in the Python worker
        for pdf in batches:
            raw = pdf[html_col]
            texts = []
            for h in raw:
                b = extract_text_bytes(bytes(h) if h is not None else None)
                texts.append(b.decode("utf-8", errors=JVM_REPLACE) if b is not None else None)
            out = pdf[keep_cols].copy()
            out[out_col] = pd.Series(texts, index=pdf.index, dtype="object")
            yield out

    return pages.mapInPandas(run, schema)


# Byte fragments that stress the decoders: encoded surrogates (whole,
# truncated), overlongs, 5- and 6-byte leads, truncated multi-byte
# sequences, stray continuations, BOM-like noise, valid multi-byte text
# and marker look-alikes.
_INVALID = [
    b"\xed\xa0\x80", b"\xed\xbf\xbf", b"\xed\xa0", b"\xed\xbf\x41",
    b"\xc0\xaf", b"\xc1\xbf", b"\xe0\x80\xaf", b"\xf0\x80\x80\xaf",
    b"\xf8\x88\x80\x80\x80", b"\xfc\x84\x80\x80\x80\x80",
    b"\xe2\x82", b"\xf0\x9f\x98", b"\xf4\x90\x80\x80", b"\x80", b"\xbf",
    b"\xff", b"\xfe", b"\xff\xfe",
]
_VALID = [v.encode() for v in ("é", "✓", "😀", "ü", "€", "abc", " ", "<", "<bod", "/body>")]


def _fragments(rng: random.Random, n: int, pool: list[bytes]) -> bytes:
    return b"".join(rng.choice(pool) for _ in range(n))


def adversarial_payloads(n: int, seed: int) -> list[tuple[int, bytes | None]]:
    """``n`` seeded random payloads (every one with a body; a third with
    invalid bytes at both body boundaries) after the hand-picked edge
    cases."""
    fixed = [
        None,
        b"",
        b"</body><body>",
        b"<body>",
        b"</body>",
        b"<body></body>",
        b"<body>a<body>b</body>c</body>",
        b"<body>\xe2\x82</body>",
        b"<body>\xf0\x9f\x98</body>",
        b"<body>\xed\xa0</body>",
        b"<body>\x80abc</body>",
        b"<body>\xbf\xbf</body>",
        b"<body>\xed\xa0\x80</body>",
        b"<body>\xed\xa0\x80\xed\xb0\x80</body>",
        b"<body>\xc0\xaf\xe0\x80\xaf\xf0\x80\x80\xaf</body>",
        b"<body>\xf8\x88\x80\x80\x80\xfc\x84\x80\x80\x80\x80</body>",
        b"\xff\xfe<body>ok</body>\xff\xfe",
        b"\xe2<body>\xed</body>\x82",
        b"\xf0\x9f<body>x</body>",
    ]
    rng = random.Random(seed)
    pool = _INVALID + _VALID * 2
    rows = list(fixed)
    for i in range(n):
        pre = _fragments(rng, rng.randint(0, 4), _INVALID + _VALID + [BODY_CLOSE])
        post = _fragments(rng, rng.randint(0, 4), _INVALID + _VALID + [BODY_OPEN])
        body = _fragments(rng, rng.randint(0, 8), pool + [BODY_OPEN, BODY_CLOSE])
        if i % 3 == 0:
            body = rng.choice(_INVALID) + body + rng.choice(_INVALID)
        rows.append(pre + BODY_OPEN + body + BODY_CLOSE + post)
    return list(enumerate(rows))


def test_extract_bytes_roundtrip_unit():
    body = "héllo wörld — ünïcode ✓".encode()
    html = b"<html>\xff\xfe<head>junk\x80</head><body>" + body + b"</body>\x81</html>"
    assert extract_text_bytes(html) == body


def test_extract_bytes_marker_in_text():
    # text containing the literal close marker survives (first-open/last-close)
    body = b"a</body>b"
    html = b"<body>" + body + b"</body>"
    assert extract_text_bytes(html) == body


def test_extract_bytes_malformed():
    assert extract_text_bytes(b"no markers here") is None
    assert extract_text_bytes(b"</body><body>") is None
    assert extract_text_bytes(None) is None


def test_extract_matches_text_column_exactly(spark):
    pages = gen_pages(spark, num_urls=60)
    got = extract_text(pages)
    # byte-identical: compare sha1 of UTF-8 bytes on both columns, JVM-side
    mism = got.where(
        F.sha1(F.encode("extracted_text", "UTF-8")) != F.sha1(F.encode("text", "UTF-8"))
    ).count()
    total = got.count()
    nulls = got.where(F.col("extracted_text").isNull()).count()
    assert total > 0 and mism == 0 and nulls == 0


def test_extract_drops_html_column(spark):
    pages = gen_pages(spark, num_urls=5)
    got = extract_text(pages)
    assert "html" not in got.columns and "extracted_text" in got.columns


def test_jvm_and_arrow_extractors_agree(spark):
    pages = gen_pages(spark, num_urls=40)
    jvm = extract_text(pages).select("url", "warc_ts", "extracted_text")
    arrow = extract_text_arrow(pages).select(
        "url", "warc_ts", F.col("extracted_text").alias("arrow_text")
    )
    j = jvm.join(arrow, ["url", "warc_ts"])
    assert j.count() > 0
    assert j.where(F.col("extracted_text") != F.col("arrow_text")).count() == 0


def test_extracted_length_null_semantics(spark):
    """octet_length(extract_text(...)) NULLs out exactly on malformed
    pages (no body, close before open, NULL payload) and counts body
    bytes otherwise."""
    rows = [
        (1, b"<html><body>plain ascii</body></html>"),
        (2, b"<html>\xff\xfe<body>" + "ünïcode ✓".encode() + b"</body>\x80</html>"),
        (3, b"no markers"),
        (4, b"</body><body>"),
        (5, b"<body>a</body>mid</body>"),
        (6, b"<body></body>"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, html binary")
    got = {
        r.id: r.text_length
        for r in extract_text(df).select(
            "id", F.octet_length("extracted_text").alias("text_length")
        ).collect()
    }
    assert got[1] == len(b"plain ascii")
    assert got[2] == len("ünïcode ✓".encode())
    assert got[3] is None and got[4] is None and got[7] is None
    assert got[5] == len(b"a</body>mid")
    assert got[6] == 0


def test_extractors_agree_bytewise_on_adversarial_payloads(spark):
    """extract_text == extract_text_arrow == whole_payload_decode, byte
    for byte (hex of the UTF-8 output, NULLs included), on seeded payloads
    full of invalid UTF-8 inside and around the body."""
    df = spark.createDataFrame(adversarial_payloads(3000, seed=5), "id long, html binary")

    def hexed(frame):
        return frame.select("id", F.hex(F.col("extracted_text").cast("binary")).alias("h"))

    jvm = hexed(extract_text(df))
    arrow = hexed(extract_text_arrow(df))
    ref = hexed(df.select("id", whole_payload_decode().alias("extracted_text")))
    assert ref.count() == df.count()
    assert ref.where(F.col("h").isNull()).count() == 5
    for got in (jvm, arrow):
        assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_jvm_extractor_malformed_and_unicode(spark):
    rows = [
        (1, b"<html><body>plain ascii</body></html>"),
        (2, b"<html>\xff\xfe<body>" + "ünïcode ✓".encode() + b"</body>\x80</html>"),
        (3, b"no markers"),
        (4, b"</body><body>"),  # close before open
        (5, b"<body>a</body>mid</body>"),  # last close wins
    ]
    df = spark.createDataFrame(rows, "id long, html binary")
    got = {r.id: r.extracted_text for r in extract_text(df).collect()}
    assert got[1] == "plain ascii"
    assert got[2] == "ünïcode ✓"
    assert got[3] is None
    assert got[4] is None
    assert got[5] == "a</body>mid"


def test_langid_ngram_classifies_natural_text(spark):
    """The trigram-profile classifier carries real language signal, not
    just deterministic shape: short natural-language samples classify to
    the right profile; profile-free strings fall to 'unknown'."""
    from mintpy_spark.functions.langid import classify

    samples = [
        (0, "the quick brown fox is one of the animals in the old story"),
        (1, "der hund und die katze sind ein gutes beispiel aus dem buch"),
        (2, "le chat et le chien sont des animaux que la ville connait"),
        (3, "el perro y el gato son los animales que la gente quiere"),
        (4, "zzzz qqqq xxxx"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string")
    got = {r.doc_id: r.guess for r in classify(df).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "es"
    assert got[4] == "unknown"


def test_langid_wide_profiles_classify_ten_languages(spark):
    """Round-3 profile breadth: all ten languages — including the two
    non-Latin scripts — classify natural-text samples correctly."""
    from mintpy_spark.functions.langid import PROFILES, classify

    assert len(PROFILES) == 10
    samples = [
        (0, "the quick brown fox is one of the animals in the old story", "en"),
        (1, "der hund und die katze sind ein gutes beispiel aus dem buch", "de"),
        (2, "le chat et le chien sont des animaux que la ville connait", "fr"),
        (3, "el perro y el gato son los animales que la gente quiere", "es"),
        (4, "il cane e il gatto sono gli animali che la gente vuole bene", "it"),
        (5, "o cachorro e um gato são do parque para a população da cidade", "pt"),
        (6, "het huis van een aardig gezin is natuurlijk dichtbij de gracht", "nl"),
        (7, "собака и кошка что живут на улице около старого дома", "ru"),
        (8, "το σπίτι και ο κήπος της πόλης ου παλιού δρόμου", "el"),
        (9, "bir kedi ve bir köpek evin bahçesinde yaşıyor dır", "tr"),
        (10, "zzzz qqqq xxxx", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in samples], "doc_id long, text string"
    )
    got = {r.doc_id: r.guess for r in classify(df).collect()}
    for i, _t, lang in samples:
        assert got[i] == lang, f"sample {i}: got {got[i]}, want {lang}"
