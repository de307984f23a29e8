"""Retention policy: hot raw window + compressed cold tier + tier-forever.

The "retention engine" leg of the north rule made explicit as one
operator: given the observation stream and a policy

    raw:    keep observations in the trailing ``raw_days`` window as-is
            (point queries, reprocessing, late-data merges hit this),
    cold:   everything older is packed into Gorilla/delta-of-delta blocks
            (codecs/blocks.py) — ~10-100x smaller, still losslessly
            restorable (and byte-identical for text),
    tiers:  aggregates live forever in the tier tables regardless
            (built before compaction, so nothing is lost to it).

Reference analog: the reference keeps full stacks forever in HDF5 and
relies on chunk compression (stack.py:352-355); a crawl store cannot — the
hot/cold split is what makes 10^12 rows affordable, and ``restore``
proves the split is lossless.

Scale: the split is two predicate scans (partition/row-group pruning on
the timestamp makes each read only its side), packing is the existing
Arrow-batched block codec, and ``restore`` is a union — no operator here
adds a shuffle beyond what pack_blocks already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks


def apply_retention(
    obs: DataFrame,
    value_col: str,
    raw_days: int = 90,
    horizon=None,
    key: str = "url",
    ts: str = "warc_ts",
    block_window: str = "30d",
    value_dtype: str = "float64",
) -> dict[str, DataFrame]:
    """Split observations into {'raw': recent obs, 'cold': packed blocks}.

    ``horizon`` (a timestamp Column/literal) overrides the data-derived
    cutoff ``max(ts) - raw_days`` — pass it explicitly in production (the
    data-derived form costs a 1-row broadcast aggregate, fine but
    non-deterministic across growing inputs).
    """
    if horizon is None:
        h = obs.agg(
            (F.max(ts) - F.expr(f"INTERVAL {int(raw_days)} DAYS")).alias("_h")
        )
        obs = obs.crossJoin(F.broadcast(h))
        cut = F.col("_h")
    else:
        cut = F.lit(horizon).cast("timestamp")
        obs = obs.withColumn("_h", cut)
    # rows with NULL ts or NULL value stay in the raw tier: the cold
    # codec would drop the former (both range predicates are null-false)
    # and NaN the latter — either silently breaks the lossless contract
    clean = F.col(ts).isNotNull() & F.col(value_col).isNotNull()
    raw = obs.where(~clean | (F.col(ts) >= F.col("_h"))).drop("_h")
    old = obs.where(clean & (F.col(ts) < F.col("_h"))).drop("_h")
    # float64 blocks by default: a retention store must be LOSSLESS (the
    # codec's float32 default mirrors the reference compute dtype, which
    # is a compute choice, not a storage one)
    cold = pack_blocks(
        old, value_col, window=block_window, key=key, ts=ts,
        value_dtype=value_dtype,
    )
    return {"raw": raw, "cold": cold}


def restore(
    split: dict[str, DataFrame],
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Union the hot window with the losslessly unpacked cold tier —
    the full observation series again (proven equal by tests)."""
    cold_obs = unpack_blocks(split["cold"]).select(
        F.col("key").alias(key),
        F.col("warc_ts").alias(ts),
        F.col("value").alias(value_col),
    )
    return split["raw"].select(key, ts, value_col).unionByName(cold_obs)


def compact_raw(
    spark,
    raw_path: str,
    cutoff: str,
    maintainer,
    tier: str = "1h",
    value_col: str | None = None,
) -> dict:
    """Downsample-then-delete: drop the raw files whose observations all
    lie below ``cutoff`` once the committed finest tier provably covers
    them (the TimescaleDB ``drop_chunks``-after-continuous-aggregate
    lifecycle; the reference instead keeps full stacks forever and leans
    on HDF5 chunk gzip, stack.py:352-355 — affordable at image scale, not
    at 10^12 rows).

    File-granular drop, as ``drop_chunks`` drops whole chunks: a raw file
    is deleted only when every one of its rows has a non-NULL timestamp
    below the cutoff and a non-NULL value. Nothing is rewritten, so the
    maintenance stream (``maintain_tiers``), which folds every file it has
    not seen, never sees a compacted file as new input. A file that
    straddles the cutoff, or holds a NULL-ts or NULL-value row (no bucket,
    or no ledger trace, could account for it), stays byte for byte, and
    its old rows keep counting as raw in the gate. The production stream
    lands one file per interval, so whole files fall below a cutoff.

    Safety gate (refuses, never silently loses data):
    * ``cutoff`` must be aligned to a ``tier`` bucket boundary — a
      misaligned cutoff would orphan the partial bucket between
      ``floor(cutoff)`` and ``cutoff``;
    * per (key, bucket) below the cutoff, the committed ``tier`` table
      must account for EXACTLY the rows ever dropped plus the raw rows
      still there:  ``tier.cnt == ledger.dropped + raw.cnt``.  The
      ledger (``<raw>.__compaction_ledger``, appended with the dropped
      files' rows on every compaction) is what makes the gate exact
      across REPEATED compactions and late arrivals into
      already-compacted buckets: an unfolded raw row makes
      ``ledger + raw > tier`` and the compaction refuses — fold first,
      compact after.

    Crash safety: the files are deleted, then the ledger is appended. A
    crash in between leaves the ledger short, so the next gate reads
    ``tier > ledger + raw`` and refuses — the safe direction (no silent
    loss; the operator appends the missing ledger rows). There is no swap
    of the raw directory, so nothing is left to recover; the tier store
    is never touched. The compaction is recorded in the maintainer's
    lineage metrics table (north-rule checkpoint discipline).
    """
    from mintpy_spark.functions.timefn import TIER_SECONDS, bucket_start, iso_to_epoch_sec

    value_col = value_col or maintainer.value_col
    ts = maintainer.ts
    width = TIER_SECONDS[tier]
    cut_sec = iso_to_epoch_sec(cutoff)
    if cut_sec % width:
        raise ValueError(
            f"cutoff {cutoff} is not aligned to the {tier} tier boundary"
        )
    cut = F.lit(cutoff).cast("timestamp")

    key = maintainer.key
    raw = spark.read.parquet(raw_path).withColumn("_file", F.input_file_name())
    # per raw file: its rows, and whether every row is droppable
    droppable = F.coalesce(
        F.col(ts).isNotNull() & (F.col(ts) < cut) & F.col(value_col).isNotNull(),
        F.lit(False),
    )
    files = raw.groupBy("_file").agg(
        F.count(F.lit(1)).alias("n"), F.bool_and(droppable).alias("drop")
    ).collect()
    drop_files = [r["_file"] for r in files if r["drop"]]

    def bucket_counts(rows):
        return (
            rows.where(F.col(value_col).isNotNull())
            .groupBy(
                F.col(key).alias("k"),
                bucket_start(F.col(ts), tier).alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("raw_cnt"))
        )

    ledger_path = raw_path.rstrip("/") + ".__compaction_ledger"
    try:
        ledger = (
            spark.read.parquet(ledger_path)
            .groupBy("k", "b")
            .agg(F.sum("dropped").alias("led_cnt"))
        )
    except Exception:
        ledger = None
    tier_df = maintainer.read_tier(spark, tier)  # raises if none committed
    tier_below = tier_df.where(F.col("bucket_start") < cut).select(
        F.col(key).alias("k"),
        F.col("bucket_start").alias("b"),
        F.col("cnt").alias("tier_cnt"),
    )
    # every raw row below the cutoff counts, in a dropped file or not
    acc = tier_below.join(bucket_counts(raw.where(F.col(ts) < cut)), ["k", "b"], "full")
    if ledger is not None:
        acc = acc.join(ledger, ["k", "b"], "full")
    else:
        acc = acc.withColumn("led_cnt", F.lit(None).cast("long"))
    bad = acc.where(
        F.coalesce("tier_cnt", F.lit(0))
        != F.coalesce("raw_cnt", F.lit(0)) + F.coalesce("led_cnt", F.lit(0))
    )
    n_bad = bad.count()
    if n_bad:
        ex = bad.limit(3).collect()
        raise RuntimeError(
            f"{n_bad} (key, {tier}-bucket) cells below {cutoff} where the "
            f"committed tier != ledger + raw (e.g. {ex}) — fold the "
            "outstanding delta before compacting"
        )
    dropped = sum(r["n"] for r in files if r["drop"])
    kept = sum(r["n"] for r in files if not r["drop"])
    if drop_files:
        # pin the ledger delta BEFORE the deletes: it is computed from the
        # files about to disappear
        ledger_delta = bucket_counts(
            raw.where(F.col("_file").isin(drop_files))
        ).select("k", "b", F.col("raw_cnt").alias("dropped")).localCheckpoint(eager=True)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(raw_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for f in drop_files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)), False)
        ledger_delta.write.mode("append").parquet(ledger_path)
    maintainer.metrics.append(
        [
            {
                "run_id": f"compact_{cutoff}",
                "stage": f"compact_raw_{tier}",
                "part_id": 0,
                "input_fp": raw_path,
                "row_count": int(kept),
                "wall_ms": 0,
                "status": "complete",
            }
        ]
    )
    return {"dropped": int(dropped), "kept": int(kept), "cutoff": cutoff}
