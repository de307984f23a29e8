"""Training-data export: the end-to-end curation pipeline as ONE
resumable job.

    documents -> clean   (exact dedup + Gopher quality + decontamination)
              -> kept    (near-dup keeper resolution over MinHash LSH)
              -> packed  (next-fit sequence packing per source shard)
              -> shards  (deterministic shard assignment, split-tagged)

This is the composition a user actually runs to turn a crawl into
training shards; every constituent operator is individually
oracle-checked in the registry (dedup_exact / quality_gopher_flags /
decontaminate_benchmark / dedup_minhash_lsh / dedup_keeper_map /
pack_next_fit_bins), so the pipeline's job is orchestration: stage
boundaries, per-partition lineage + row counts, and mid-stage resume
via the same checkpoint contract as the rollup pipeline
(plans/pipeline.py — the run_or_skip analog, utils/utils1.py:691-746).

Determinism contract: every decision is a pure function of document
content/ids (md5 buckets, MinHash keepers, stable splits, id-ordered
packing) — re-runs, resumed runs, and different parallelism levels all
emit byte-identical shard membership. tests/test_export_pipeline.py
pins this with a fingerprint comparison across two independent runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.plans.pipeline import run_stage
from mintpy_spark.sources.iceberg import open_table_store


def clean_docs(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    contamination_k: int = 8,
    quality_flags: tuple[str, ...] | None = None,
) -> DataFrame:
    """Exact-dedup + quality + decontamination filter.

    * exact dedup: keep the smallest id per md5(text) — one hash agg;
    * quality: Gopher rules (row-local, zero shuffle); by default ALL
      five rules must pass (``pass_all``) — English-web calibrated. For
      corpora where a rule is inapplicable (e.g. the stop-word rule on
      non-English or code), ``quality_flags`` names the subset to
      enforce (e.g. ``("flag_wc", "flag_mwl", "flag_alpha")``);
    * decontamination: drop documents sharing any k-token window with
      the benchmark corpus (broadcast hash-set join); skipped when no
      benchmark table is supplied.
    """
    from mintpy_spark.operators.curation import gopher_flags
    from mintpy_spark.operators.dedup import window_hash_positions

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    uniq = (
        docs.where(F.col(text_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    good = gopher_flags(uniq, id_col=id_col, text_col=text_col,
                        min_words=min_words)
    if quality_flags is None:
        cond = F.col("pass_all") == 1
    else:
        cond = F.lit(True)
        for fl in quality_flags:
            cond = cond & (F.col(fl) == 1)
    kept = uniq.join(
        good.where(cond).select(id_col), id_col, "left_semi"
    )
    if benchmark is not None:
        bad = (
            window_hash_positions(kept, id_col=id_col, text_col=text_col,
                                  k=contamination_k)
            .join(
                F.broadcast(
                    window_hash_positions(
                        benchmark, id_col=id_col, text_col=text_col,
                        k=contamination_k,
                    ).select("h").distinct()
                ),
                "h",
            )
            .select(id_col)
            .distinct()
        )
        kept = kept.join(bad, id_col, "left_anti")
    return kept


def resolve_keepers(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.875,
) -> DataFrame:
    """Near-dup removal: banded MinHash LSH pairs -> one-hop keeper map
    -> keep only documents that ARE their own keeper."""
    from mintpy_spark.operators.dedup import minhash_near_dups

    pairs = minhash_near_dups(docs, id_col=id_col, text_col=text_col,
                              threshold=threshold).select("doc_a", "doc_b")
    # pairs emit doc_a < doc_b: any doc appearing as doc_b duplicates a
    # smaller-id keeper and is dropped
    return docs.join(
        pairs.select(F.col("doc_b").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )


def run_export(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    benchmark: DataFrame | None = None,
    run_id: str = "run0",
    config_fp: str = "v1",
    buckets: int = 8,
    capacity: int = 256,
    min_words: int = 50,
    n_shards: int = 8,
    train_pct: int = 80,
    val_pct: int = 10,
    quality_flags: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """documents -> clean -> kept -> packed -> shards, each stage committed
    by one manifest rename of the table store, with lineage rows; re-running with the same
    run_id/root resumes at the first incomplete partition. With an Iceberg
    catalog the store ignores ``root`` (see ``open_table_store``)."""
    from mintpy_spark.operators.packing import pack_next_fit
    from mintpy_spark.operators.sampling import stable_bucket, with_split
    from mintpy_spark.sources.tables import with_part_id

    store = open_table_store(spark, root)
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    out: dict[str, DataFrame] = {}
    fp = config_fp

    out["clean"] = run_stage(
        spark, store, ckpt, run_id, "clean", fp,
        lambda: with_part_id(
            clean_docs(docs, benchmark, min_words=min_words,
                       quality_flags=quality_flags),
            key="doc_id", buckets=buckets,
        ),
        buckets,
    )
    clean = out["clean"].drop("part_id")

    out["kept"] = run_stage(
        spark, store, ckpt, run_id, "kept", fp,
        lambda: with_part_id(resolve_keepers(clean), key="doc_id",
                             buckets=buckets),
        buckets,
    )
    kept = out["kept"].drop("part_id")

    out["packed"] = run_stage(
        spark, store, ckpt, run_id, "packed", fp,
        lambda: with_part_id(
            pack_next_fit(kept, capacity=capacity), key="doc_id",
            buckets=buckets,
        ),
        buckets,
    )
    packed = out["packed"].drop("part_id")

    def build_shards() -> DataFrame:
        # shard = stable hash of the (source, bin) example key -> the
        # training-time read unit; split rides along per document so
        # holdout membership never changes as the corpus grows
        ex = packed.join(with_split(kept, train_pct=train_pct,
                                    val_pct=val_pct), ["doc_id", "source"])
        return ex.withColumn(
            "part_id",
            stable_bucket(
                F.concat_ws("|", F.col("source"), F.col("bin_id")), n_shards
            ),
        )

    out["shards"] = run_stage(
        spark, store, ckpt, run_id, "shards", fp, build_shards, n_shards
    )
    return out
