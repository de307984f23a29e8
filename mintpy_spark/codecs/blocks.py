"""Block packing: series -> compressed per-(key, window) blobs and back.

The storage analog of the reference's chunked HDF5 layout (stack.py:352-355
``layout_hdf5`` chunking + compression): observations are grouped by
(key, 30d window), sorted by timestamp, and packed into one row per block:

    blocks(key, window_start, n, ts_blob, val_blob[, txt_blob, txt_lens])

* ts_blob  — delta-of-delta packed int64 microseconds (gorilla.py)
* val_blob — Gorilla-XOR packed float32/64 values (gorilla.py)
* txt_blob — zlib of the concatenated raw text bytes; txt_lens is the
  per-document byte-length vector (int64 little-endian; -1 marks a NULL
  text, which contributes no bytes), so text — including NULLs —
  round-trips **byte-identically** (the input_hint invariant)

Packing runs on the sorted-group seam (``operators.seqstate.
map_sorted_groups``): one shuffle on key, rows sorted by (key, window,
ts), and each Arrow chunk packed as a whole — its (key, window) runs are
found with numpy break indices and encoded slice by slice, so the cost per
block is the encoders, not a pandas frame. Unpacking is a mapInPandas over
the block rows. Numpy inside; the text channel alone loops per row. At
100 TB the block table is the cold tier: ~100-1000x fewer rows than raw
obs, partitioned by hash(key), and range queries prune on
(key, window_start) before any decode happens.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mintpy_spark.codecs.gorilla import (
    decode_floats,
    decode_timestamps,
    encode_floats,
    encode_timestamps,
)
from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators.seqstate import map_sorted_groups

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("window_start", T.TimestampType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
        T.StructField("txt_blob", T.BinaryType(), True),
        T.StructField("txt_lens", T.BinaryType(), True),
    ]
)


def pack_blocks(
    obs: DataFrame,
    value_col: str,
    text_col: str | None = None,
    window: str = "30d",
    key: str = "url",
    ts: str = "warc_ts",
    value_dtype: str = "float32",
) -> DataFrame:
    """Series -> one compressed row per (key, window).

    A NULL ``key`` raises ``ValueError`` from ``map_sorted_groups``."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # pdf holds whole key groups in (key, _win, _ts_us) order, so each
        # block is the contiguous run of rows between two break indices
        keys = pdf[key].to_numpy()
        wins = pdf["_win"].to_numpy()
        brk = np.flatnonzero((keys[1:] != keys[:-1]) | (wins[1:] != wins[:-1])) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(pdf)]))
        ts_us = pdf["_ts_us"].to_numpy(dtype=np.int64)
        vals = pdf[value_col].to_numpy(dtype=value_dtype)
        runs = list(zip(starts.tolist(), ends.tolist()))
        out = {
            "key": keys[starts],
            "window_start": wins[starts],
            "n": (ends - starts).astype(np.int32),
            "ts_blob": [encode_timestamps(ts_us[a:b]) for a, b in runs],
            "val_blob": [encode_floats(vals[a:b]) for a, b in runs],
        }
        if text_col is not None:
            # bytes, never str dtype: byte-identity (SURVEY.md §7.3 #4).
            # NULL text is ledgered as length -1 — encoding it as the
            # literal b"None" (str(None)) would fabricate content that a
            # downstream byte-identity or dedup check reads as real
            texts = [
                t if (t is None or isinstance(t, bytes))
                else str(t).encode("utf-8")
                for t in pdf[text_col].tolist()
            ]
            lens = np.array(
                [-1 if t is None else len(t) for t in texts], dtype=np.int64
            )
            out["txt_blob"] = [
                zlib.compress(
                    b"".join(t for t in texts[a:b] if t is not None), 6
                )
                for a, b in runs
            ]
            out["txt_lens"] = [lens[a:b].tobytes() for a, b in runs]
        else:
            out["txt_blob"] = [None] * len(runs)
            out["txt_lens"] = [None] * len(runs)
        return pd.DataFrame(out)

    prepped = obs.select(
        F.col(key).alias(key),
        # unix_micros, NOT cast-double*1e6: the double path truncates one
        # microsecond low when fl(fl(M/1e6)*1e6) < M (double ulp at epoch
        # scale is ~0.24us) — lossless restore requires the exact integer
        F.unix_micros(F.col(ts).cast("timestamp")).alias("_ts_us"),
        bucket_start(F.col(ts), window).alias("_win"),
        *( [F.col(value_col)] if text_col is None else [F.col(value_col), F.col(text_col)] ),
    )
    return map_sorted_groups(prepped, key, ("_win", "_ts_us"), pack, BLOCK_SCHEMA)


def unpack_blocks(blocks: DataFrame, with_text: bool = False) -> DataFrame:
    """Blocks -> long observation rows (key, warc_ts, value[, text])."""
    fields = [
        T.StructField("key", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        # nullable: Spark's Arrow layer converts a pandas float NaN to
        # NULL on the way back (pandas uses NaN as its NA sentinel), so a
        # block holding NaN/NULL values would CRASH a non-nullable decode
        # ("Value at index is null"). Semantics: Spark NULL and NaN both
        # reach the packer as pandas NaN (same sentinel), encode as the
        # NaN bit pattern, and decode back to Spark NULL — NULL is the
        # canonical form on the Spark side of the codec boundary.
        T.StructField("value", T.DoubleType(), True),
    ]
    if with_text:
        fields.append(T.StructField("text", T.BinaryType(), True))
    schema = T.StructType(fields)

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                ts_us = decode_timestamps(bytes(r.ts_blob))
                vals = decode_floats(bytes(r.val_blob)).astype(np.float64)
                out = {
                    "key": np.repeat(r.key, r.n),
                    "warc_ts": pd.to_datetime(ts_us, unit="us"),
                    "value": vals,
                }
                if with_text:
                    if r.txt_blob is not None:
                        raw = zlib.decompress(bytes(r.txt_blob))
                        lens = np.frombuffer(bytes(r.txt_lens), dtype=np.int64)
                        # -1 entries are NULL texts (ledgered, not stored)
                        sizes = np.where(lens < 0, 0, lens)
                        ends = np.cumsum(sizes)
                        starts = ends - sizes
                        out["text"] = [
                            None if ln < 0 else raw[a:b]
                            for a, b, ln in zip(starts, ends, lens)
                        ]
                    else:
                        out["text"] = [None] * r.n
                frames.append(pd.DataFrame(out))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return blocks.mapInPandas(unpack, schema)
