"""Codec round-trip properties (bit-exact floats, exact timestamps,
byte-identical text through the block path)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mintpy_spark.codecs.gorilla import (
    decode_floats,
    decode_timestamps,
    encode_floats,
    encode_timestamps,
)


@given(
    st.lists(
        st.floats(width=32, allow_nan=True, allow_infinity=True), max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_float32_roundtrip_bitexact(vals):
    arr = np.array(vals, dtype=np.float32)
    out = decode_floats(encode_floats(arr))
    assert out.dtype == np.float32
    assert np.array_equal(arr.view(np.uint32), out.view(np.uint32))


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True), max_size=200))
@settings(max_examples=100, deadline=None)
def test_float64_roundtrip_bitexact(vals):
    arr = np.array(vals, dtype=np.float64)
    out = decode_floats(encode_floats(arr))
    assert np.array_equal(arr.view(np.uint64), out.view(np.uint64))


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**52), min_size=0, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_timestamp_roundtrip_exact(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    out = decode_timestamps(encode_timestamps(arr))
    assert np.array_equal(arr, out)


def test_regular_grid_compresses_hard():
    ts = np.arange(0, 10**10, 3600 * 10**6, dtype=np.int64)  # hourly grid
    blob = encode_timestamps(ts)
    assert len(blob) < ts.size * 1.5 + 32  # ~1 byte/point + header
    vals = np.full(1000, np.float32(3.14159))
    fblob = encode_floats(vals)
    assert len(fblob) < 1100 + 16  # 1 ctrl byte/point after first


def test_compression_ratio_on_slow_series():
    rng = np.random.default_rng(0)
    vals = (1000 + np.cumsum(rng.normal(0, 0.5, 5000))).astype(np.float32)
    ratio = (vals.size * 4) / len(encode_floats(vals))
    assert ratio > 1.2  # beats raw float32


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_empty_and_single(dtype):
    for n in (0, 1, 2):
        arr = np.arange(n, dtype=dtype)
        assert np.array_equal(decode_floats(encode_floats(arr)), arr)
        ts = np.arange(n, dtype=np.int64)
        assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_block_pack_unpack_byte_identical_text(spark, pages):
    """The input_hint invariant: text survives the full compress/store/
    decompress path byte-identically per (url, warc_ts)."""
    from pyspark.sql import functions as F

    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    obs = pages.select(
        "url", "warc_ts", F.octet_length("text").alias("text_length"),
        F.encode("text", "UTF-8").alias("text_bytes"),
    )
    blocks = pack_blocks(obs, "text_length", text_col="text_bytes")
    back = unpack_blocks(blocks, with_text=True)
    orig = obs.select(
        "url", "warc_ts",
        F.sha1("text_bytes").alias("sha_orig"),
        F.col("text_length").cast("double").alias("v_orig"),
    )
    got = back.select(
        F.col("key").alias("url"), "warc_ts",
        F.sha1("text").alias("sha_got"), F.col("value").alias("v_got"),
    )
    j = orig.join(got, ["url", "warc_ts"], "full")
    assert j.where(
        F.col("sha_orig").isNull()
        | F.col("sha_got").isNull()
        | (F.col("sha_orig") != F.col("sha_got"))
        | (F.col("v_orig") != F.col("v_got"))
    ).count() == 0
    # block table is much smaller than the obs table
    assert blocks.count() < obs.count() / 3


def test_block_timestamps_roundtrip_exact_microseconds(spark):
    """Adversarial microsecond components (incl. values near the double
    truncation boundary) must round-trip bit-exactly."""
    import pandas as pd

    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    ts = [
        pd.Timestamp("2023-01-01 00:00:00.000001"),
        pd.Timestamp("2023-01-01 00:00:00.999999"),
        pd.Timestamp("2026-02-28 23:59:59.777777"),
        pd.Timestamp("2033-05-18 03:33:20.000001"),  # epoch 2e9 + 1us
    ]
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "v": [1.0, 2.0, 3.0, 4.0]})
    blocks = pack_blocks(spark.createDataFrame(pdf), "v", value_dtype="float64")
    back = unpack_blocks(blocks).orderBy("warc_ts").collect()
    assert [r.warc_ts for r in back] == sorted(ts)


@pytest.mark.parametrize("with_text", [False, True])
def test_pack_blocks_across_arrow_batches(spark, with_text):
    """With 7-row Arrow batches every url's windows span several batches,
    so the sorted-group seam's carry buffer must reassemble them: each
    block equals the encoders applied to its (key, window)'s
    timestamp-sorted slice, and unpacking gives the input back."""
    import zlib

    from pyspark.sql import functions as F

    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks
    from mintpy_spark.functions.timefn import bucket_start

    n = 240
    # 5 urls; 97 is coprime to n, so the timestamps are a permutation of
    # a 15 h grid over ~150 days (about five 30d windows), plus id
    # microseconds so every timestamp is distinct
    obs = (
        spark.range(n)
        .select(
            F.concat(F.lit("https://s"), F.col("id") % 5, F.lit(".example/")).alias("url"),
            F.timestamp_micros(
                F.lit(1_672_531_200_000_000)
                + (F.col("id") * 97 % n) * F.lit(54_000_000_000)
                + F.col("id")
            ).alias("warc_ts"),
            ((F.col("id") % 50) * 0.25).alias("v"),
            F.when(
                F.col("id") % 6 != 0, F.encode(F.concat(F.lit("doc-"), F.col("id")), "UTF-8")
            ).alias("txt"),
        )
        .repartition(3)
    )
    text_col = "txt" if with_text else None
    rows = obs.select(
        "url", F.unix_micros("warc_ts").alias("us"),
        bucket_start(F.col("warc_ts"), "30d").alias("win"), "v", "txt",
    ).toPandas()

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        blocks = pack_blocks(obs, "v", text_col=text_col).cache()
        got = {(r.key, r.window_start): r for r in blocks.collect()}
        back = unpack_blocks(blocks, with_text=with_text).select(
            "key", F.unix_micros("warc_ts").alias("us"), "value",
            *(["text"] if with_text else []),
        ).collect()
        blocks.unpersist()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    groups = rows.sort_values("us").groupby(["url", "win"], sort=False)
    assert len(got) == groups.ngroups
    assert max(r.n for r in got.values()) > 7
    for (url, win), g in groups:
        b = got[(url, win.to_pydatetime())]
        assert b.n == len(g)
        assert bytes(b.ts_blob) == encode_timestamps(g["us"].to_numpy(np.int64))
        assert bytes(b.val_blob) == encode_floats(g["v"].to_numpy(np.float32))
        if with_text:
            texts = g["txt"].tolist()
            assert bytes(b.txt_blob) == zlib.compress(
                b"".join(bytes(t) for t in texts if t is not None), 6
            )
            lens = [-1 if t is None else len(t) for t in texts]
            assert bytes(b.txt_lens) == np.array(lens, dtype=np.int64).tobytes()
        else:
            assert b.txt_blob is None and b.txt_lens is None

    want = sorted(
        (r.url, r.us, r.v) + ((None if r.txt is None else bytes(r.txt),) if with_text else ())
        for r in rows.itertuples()
    )
    have = sorted(
        (r.key, r.us, r.value) + ((None if r.text is None else bytes(r.text),) if with_text else ())
        for r in back
    )
    assert have == want
