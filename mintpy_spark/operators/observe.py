"""pages -> obs derivation (stage 1 of the pipeline).

The reference's analog is ``load_data`` + dataset derivation: raw inputs are
normalized into the canonical stack with per-epoch metrics
(reference: src/mintpy/load_data.py:802, objects/stackDict.py). Here the raw
crawl row (url, warc_ts, html, text, lang) is projected to the observation
row the rollup tiers aggregate:

    obs(url, warc_ts, text_length, text_sha, lang)

``text_length`` is byte length (octet_length) and ``text_sha`` a sha1 digest
— the digest is what the byte-identical-text invariant tests assert on.
Everything is a narrow JVM-side projection (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pages_to_obs(pages: DataFrame, text_col: str = "text") -> DataFrame:
    return pages.select(
        "url",
        "warc_ts",
        F.octet_length(text_col).alias("text_length"),
        F.sha1(F.encode(text_col, "UTF-8")).alias("text_sha"),
        "lang",
    )


def pages_to_obs_extracted(pages: DataFrame) -> DataFrame:
    """Full stage 1: recover text from the raw html payload
    (operators.extract, byte-identity invariant) and derive obs from the
    *extracted* text — the production path when the crawl store carries
    only payload bytes."""
    from mintpy_spark.operators.extract import extract_text

    return pages_to_obs(extract_text(pages), text_col="extracted_text")

