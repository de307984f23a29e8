"""Retention: downsample-then-delete of the raw observation files.

The "retention engine" leg of the north rule: once the committed finest
tier provably covers the raw rows below a cutoff, ``compact_raw`` deletes
the raw files that hold only such rows. The tiers keep every aggregate
forever, so nothing a tier query reads is lost to the deletion.

Reference analog: the reference keeps full stacks forever in HDF5 and
relies on chunk compression (stack.py:352-355); a crawl store cannot, and
dropping whole raw files behind a covering aggregate is what makes 10^12
rows affordable.
"""

from __future__ import annotations

from pyspark.sql import functions as F


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

    Crash safety: the ledger rows, each naming its raw file, are
    appended before the files are deleted, as ONE parquet file, so one
    rename publishes all of a run's rows or none of them (a run that
    published part of them would delete, on the rerun, a file the ledger
    counts only in part, and the gate would refuse from then on). Each
    run first deletes every raw file the ledger names (a name is never
    reused: Spark's carry a uuid), which finishes a killed run before the
    gate, so a killed run leaves at worst files the ledger already
    counts. A ledger without the file column names none. The tier store
    is never touched; the run is recorded in the maintainer's lineage.
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
    path = spark._jvm.org.apache.hadoop.fs.Path
    fs = path(raw_path).getFileSystem(spark._jsc.hadoopConfiguration())
    ledger_path = raw_path.rstrip("/") + ".__compaction_ledger"
    raw = spark.read.parquet(raw_path)
    # no ledger before the first compaction; an unreadable one raises
    ledger = None
    if fs.exists(path(ledger_path)):
        led = spark.read.option("mergeSchema", "true").parquet(ledger_path)
        if "file" in led.columns:
            # finish a killed run: the ledger already counts these files
            named = {r["file"] for r in led.select("file").distinct().collect()}
            finished = named & set(raw.inputFiles())
            if finished:
                _delete_files(spark, fs, sorted(finished))
                raw = spark.read.parquet(raw_path)
        ledger = led.groupBy("k", "b").agg(F.sum("dropped").alias("led_cnt"))
    raw = raw.withColumn("_file", F.input_file_name())
    # per raw file: its rows, and whether every row is droppable
    droppable = F.coalesce(
        F.col(ts).isNotNull() & (F.col(ts) < cut) & F.col(value_col).isNotNull(),
        F.lit(False),
    )
    files = raw.groupBy("_file").agg(
        F.count(F.lit(1)).alias("n"), F.bool_and(droppable).alias("drop")
    ).collect()
    drop_files = [r["_file"] for r in files if r["drop"]]

    def bucket_counts(rows, *by):
        return (
            rows.where(F.col(value_col).isNotNull())
            .groupBy(
                *by,
                F.col(key).alias("k"),
                bucket_start(F.col(ts), tier).alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("raw_cnt"))
        )

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
        # the ledger first, one file: a kill before the deletes leaves
        # files it names, which the next run deletes
        rows = bucket_counts(
            raw.where(F.col("_file").isin(drop_files)), F.col("_file").alias("file")
        ).select("k", "b", F.col("raw_cnt").alias("dropped"), "file")
        rows.coalesce(1).write.mode("append").parquet(ledger_path)
        _delete_files(spark, fs, drop_files)
    maintainer.metrics.record(
        f"compact_{cutoff}", raw_path, {f"compact_raw_{tier}": {0: kept}}
    )
    return {"dropped": int(dropped), "kept": int(kept), "cutoff": cutoff}


def _delete_files(spark, fs, uris: list[str]) -> None:
    """Delete the raw files at ``uris`` (as ``input_file_name`` names them)."""
    jvm = spark._jvm
    for f in uris:
        fs.delete(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)), False)
