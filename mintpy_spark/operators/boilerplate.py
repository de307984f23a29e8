"""Boilerplate line detection: lines repeated across documents.

The C4/CCNet curation rule (public convention: Raffel et al. 2020 §2.2
"we discarded ... boilerplate"; CCNet dedups at paragraph level): a LINE
that recurs across many documents of the same source — nav text, cookie
banners, footers — is template boilerplate, not content. Detecting it is
a line-level analog of document dedup: hash each line, count distinct
documents per (source, line), flag lines above a document-frequency
threshold, and report how much of each document is boilerplate.

Reference analog: the per-pixel common mask (generate_mask.py) — a
cell flagged by MANY epochs is structural,
not signal — applied to text lines instead of pixels.

Scale shape (inverted-index family, like operators/tfidf.py):

- one line explode (~10^1-10^2 rows per doc), aggregated immediately to
  the (source, line_hash, doc) posting list with map-side combine;
- the boilerplate line table (lines with df >= threshold) is
  template-vocabulary-sized — far smaller than the corpus — and joins
  back BROADCAST;
- per-doc coverage is one hash agg over the posting list.

Lines are matched by the 60-bit portable hash (functions/scalars) after
trimming surrounding whitespace; empty lines are ignored. Exact counts,
no Python on the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mintpy_spark.functions.scalars import portable_hash60

# One-slot persisted hashed-lines cache (plans/cache.py discipline):
# boilerplate_coverage's two consumers (posting list + per-doc join)
# share ONE line explode + hash pass through it.
_LINED_SLOT: list = []


def doc_lines(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    group: str = "source",
) -> DataFrame:
    """(group, id, line_no, line): non-empty trimmed lines per document."""
    lines = F.split(F.col(text_col), "\n")
    return (
        docs.select(
            group,
            id_col,
            F.posexplode(lines).alias("line_no", "line"),
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
    )


def boilerplate_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group: str = "source",
    min_docs: int = 3,
) -> DataFrame:
    """(group, id, n_lines, n_boiler, boiler_frac): how much of each
    document is template boilerplate — the per-doc quality signal a
    curation pipeline thresholds on. Documents with no non-empty lines
    are excluded (coverage undefined).

    boiler_frac = n_boiler / n_lines over the document's non-empty
    lines; exact integer counts, one float division at the end.

    The corpus is exploded and hashed ONCE: the hashed-line table is
    persisted (one-slot cache) and both the boilerplate posting list
    (df >= min_docs) and the per-doc coverage join read it — the line
    explode is the dominant row-multiplying stage, so running it twice
    would double corpus-scale work for no reason."""
    from mintpy_spark.plans.cache import persist_slot

    lined = persist_slot(
        doc_lines(docs, text_col, id_col, group).select(
            group, id_col, portable_hash60(F.col("line")).alias("line_hash")
        ),
        _LINED_SLOT,
    )
    boiler = (
        lined.groupBy(group, "line_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select(group, "line_hash", F.lit(True).alias("_is_boiler"))
    )
    j = lined.join(F.broadcast(boiler), [group, "line_hash"], "left")
    return (
        j.groupBy(group, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce(F.col("_is_boiler").cast("int"), F.lit(0))).alias(
                "n_boiler"
            ),
        )
        .select(
            group,
            id_col,
            "n_lines",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_lines").cast("double"),
                4,
            ).alias("boiler_frac"),
        )
    )
