"""The three workloads: ``cascade``, ``ingest`` and ``serve``.

Each is a closed loop with one caller. A workload builds its inputs from
the seed in ``setup``, runs one loop iteration per ``step`` and returns
that step's timings, and verifies every timed output in ``check``, after
the timed loop. Only the public functions the engine's jobs call are
used, so every layer is timed from outside.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OBS_SCHEMA = "url string, warc_ts timestamp, text_length long"
DAY = 86400
T2024 = 1704067200  # 2024-01-01 00:00:00 UTC

# sizes per scale; "smoke" is the self-test size
SIZES = {
    "full": {
        "cascade": {"urls": 5000, "obs": 20},
        "ingest": {"urls": 40, "obs": 36},
        "serve": {"urls": 1000, "obs": 30, "delta": 2000, "queries": 2},
    },
    "smoke": {
        "cascade": {"urls": 200, "obs": 10},
        "ingest": {"urls": 8, "obs": 24},
        "serve": {"urls": 60, "obs": 12, "delta": 120, "queries": 2},
    },
}


class Check:
    """Output-check ledger: operations attempted and those that failed or
    answered wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def op(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(what)


def _sum_cnt(df) -> int:
    from pyspark.sql import functions as F

    return int(df.agg(F.sum("cnt")).first()[0] or 0)


def _same_rows(a, b) -> bool:
    """The two frames hold the same rows, duplicates counted, values
    compared exactly. Both are small; comparing in this process costs one
    job per side instead of two shuffles."""
    cols = list(a.columns)
    pa_, pb = (df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
               for df in (a, b))
    return pa_.equals(pb)


# -- cascade ----------------------------------------------------------------


class Cascade:
    """The scored north-rule job: extract -> one repartition(url) -> 1h ->
    1d -> 30d over a seeded bulk pages table, one terminal aggregate."""

    name = "cascade"
    setup_reps = 3
    warm_jobs = 4

    def __init__(self, spark, root: str, seed: int, scale: str) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.size = SIZES[scale]["cascade"]
        self.points = self.size["urls"] * self.size["obs"]
        self.answers: list[int] = []
        self.parts = spark.sparkContext.defaultParallelism * 2

    def setup(self, rep: int) -> None:
        from mintpy_spark.datagen import gen_pages_bulk

        self.pages_path = os.path.join(self.root, f"pages-{rep}")
        gen_pages_bulk(
            self.spark, num_urls=self.size["urls"], obs_per_url=self.size["obs"],
            seed=self.seed, partitions=self.parts,
        ).write.mode("overwrite").parquet(self.pages_path)

    def job(self, pages):
        """The cascade plan; ``pages`` is the scanned table."""
        from pyspark.sql import functions as F

        from mintpy_spark.operators.observe import pages_to_obs_extracted
        from mintpy_spark.operators.rollup import cascade, rollup_from_obs

        obs = (
            pages_to_obs_extracted(pages)
            .select("url", "warc_ts", "text_length")
            .repartition(self.parts, F.col("url"))
        )
        return cascade(cascade(rollup_from_obs(obs, "text_length", "1h"), "1d"), "30d")

    def warm_up(self, tracer) -> None:
        """A fixed number of jobs, so every run starts timing from the same
        point of the JIT's warm-up: a job's time and CPU fall for the first
        four or so jobs."""
        for _ in range(self.warm_jobs):
            self.step(tracer)

    def step(self, tracer) -> dict:
        t0 = time.perf_counter()
        with tracer.span("cascade.job"):
            n = _sum_cnt(self.job(self.spark.read.parquet(self.pages_path)))
        wall = time.perf_counter() - t0
        self.answers.append(n)
        return {"rollup_s": wall, "step_s": wall, "points": self.points}

    def prefixes(self) -> dict:
        """Cumulative plan prefixes for the prefix-differential noop-sink
        runs: whole-stage codegen fuses scan, extract and partial
        aggregation, so a layer's time is the difference of two prefixes."""
        from pyspark.sql import functions as F

        from mintpy_spark.operators.observe import pages_to_obs_extracted
        from mintpy_spark.operators.rollup import cascade, rollup_from_obs

        pages = self.spark.read.parquet(self.pages_path)
        scan = pages.select("url", "warc_ts", "html", "lang")
        ext = pages_to_obs_extracted(pages).select("url", "warc_ts", "text_length")
        exch = ext.repartition(self.parts, F.col("url"))
        t1h = rollup_from_obs(exch, "text_length", "1h")
        t30 = cascade(cascade(t1h, "1d"), "30d")
        return {"scan": scan, "extract": ext, "exchange": exch,
                "rollup.tier_1h": t1h, "rollup.cascade": t30}

    def check(self, chk: Check) -> None:
        for n in self.answers:
            chk.op(n == self.points, f"cascade: sum(cnt) at 30d {n} != {self.points}")


# -- ingest -----------------------------------------------------------------


class Ingest:
    """The production rollup_job path: a cold checkpointed run_pipeline into
    a fresh store, then the same run re-submitted (resume)."""

    name = "ingest"
    setup_reps = 3

    def __init__(self, spark, root: str, seed: int, scale: str) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.size = SIZES[scale]["ingest"]
        self.points = self.size["urls"] * self.size["obs"]
        self.stores: list[str] = []
        # rollup_job's --buckets guidance: about 2-4x the executor cores
        self.buckets = 2 * spark.sparkContext.defaultParallelism

    def setup(self, rep: int) -> None:
        from mintpy_spark.datagen import gen_pages_bulk

        # obs_per_url over one year: a few observations per url per 30d
        # window, the crawl-realistic density the blocks stage sees
        self.pages_path = os.path.join(self.root, f"pages-{rep}")
        gen_pages_bulk(
            self.spark, num_urls=self.size["urls"], obs_per_url=self.size["obs"],
            seed=self.seed, partitions=self.spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(self.pages_path)

    def submit(self, pages_path: str, store: str) -> dict:
        """One rollup_job submission: fingerprint, pipeline, row counts."""
        from mintpy_spark.plans.pipeline import run_pipeline
        from mintpy_spark.sources.tables import input_fingerprint

        pages = self.spark.read.parquet(pages_path)
        fp = f"v1:{input_fingerprint(pages_path)}"
        out = run_pipeline(
            self.spark, pages, root=store, run_id="run0", config_fp=fp,
            buckets=self.buckets,
        )
        return {name: df.count() for name, df in out.items()}

    def warm_up(self, tracer) -> None:
        """One submission over a smoke-size table, into a store that is not
        checked: the first run in a session pays for code generation and
        Python worker start-up whatever the input size."""
        from mintpy_spark.datagen import gen_pages_bulk

        small = SIZES["smoke"]["ingest"]
        path = os.path.join(self.root, "pages-warm")
        gen_pages_bulk(
            self.spark, num_urls=small["urls"], obs_per_url=small["obs"], seed=self.seed,
            partitions=self.spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(path)
        self.submit(path, os.path.join(self.root, "store-warm"))

    def step(self, tracer) -> dict:
        store = os.path.join(self.root, f"store-{len(self.stores)}")
        self.stores.append(store)
        t0 = time.perf_counter()
        with tracer.span("ingest.cold"):
            self.submit(self.pages_path, store)
        t1 = time.perf_counter()
        with tracer.span("ingest.resume"):
            self.submit(self.pages_path, store)
        t2 = time.perf_counter()
        return {"rollup_s": t1 - t0, "resume_s": t2 - t1, "step_s": t2 - t0,
                "points": self.points}

    def check(self, chk: Check) -> None:
        from pyspark.sql import functions as F

        from mintpy_spark.sources.tables import TableStore

        pages = self.spark.read.parquet(self.pages_path)
        n_pages = pages.count()
        ref = pages.select(
            "url", "warc_ts",
            F.sha1(F.encode("text", "UTF-8")).alias("ref_sha"),
            F.octet_length("text").alias("ref_len"),
        )
        ref_vsum = int(ref.agg(F.sum("ref_len")).first()[0])
        for store in self.stores:
            ts = TableStore(store)
            obs = ts.read(self.spark, "obs")
            joined = obs.join(ref, ["url", "warc_ts"], "inner")
            bad_sha = joined.where(F.col("text_sha") != F.col("ref_sha")).count()
            ok = obs.count() == n_pages and joined.count() == n_pages and bad_sha == 0
            for tier in ("tier_1h", "tier_1d", "tier_30d"):
                t = ts.read(self.spark, tier)
                row = t.agg(F.sum("cnt"), F.sum("vsum")).first()
                ok = ok and int(row[0]) == n_pages and int(row[1]) == ref_vsum
            n_blocks = int(ts.read(self.spark, "blocks").agg(F.sum("n")).first()[0])
            ok = ok and n_blocks == n_pages
            chk.op(ok, f"ingest: store {store} fails byte-identity or count checks")


# -- serve ------------------------------------------------------------------


class Serve:
    """One production interval, repeated: land an obs delta, answer range
    queries over the stored tiers plus the unfolded delta, then fold the
    delta through the tier maintainer and the streaming Kalman filter."""

    name = "serve"
    # each set-up runs both stream folds once, which also warms them
    setup_reps = 2
    backfill_share = 0.25

    def __init__(self, spark, root: str, seed: int, scale: str) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.size = SIZES[scale]["serve"]
        self.points = self.size["urls"] * self.size["obs"]
        self.rng = np.random.default_rng([seed, 7])
        self.deltas: list[str] = []
        self.samples: list[tuple] = []  # (t0, t1, tail_idx, answer rows)
        self.n_queries = 0
        self.n_folds = 0

    # paths of the current set-up
    def _paths(self, rep: int) -> None:
        base = os.path.join(self.root, f"serve-{rep}")
        self.input = os.path.join(base, "input")
        self.store = os.path.join(base, "store")
        self.tier_ckpt = os.path.join(base, "tier_ckpt")
        self.levels = os.path.join(base, "levels")
        self.kal_ckpt = os.path.join(base, "kalman_ckpt")

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from mintpy_spark.datagen import gen_pages_bulk
        from mintpy_spark.operators.observe import pages_to_obs

        self._paths(rep)
        self.deltas = []
        pages = gen_pages_bulk(
            self.spark, num_urls=self.size["urls"], obs_per_url=self.size["obs"],
            seed=self.seed, partitions=self.spark.sparkContext.defaultParallelism,
        )
        pages_to_obs(pages).select(
            "url", "warc_ts", F.col("text_length").cast("long").alias("text_length")
        ).write.mode("overwrite").parquet(self.input)
        self.fold_tiers()
        self.fold_kalman()

    def fold_tiers(self) -> None:
        from mintpy_spark.streaming.tier_maintenance import maintain_tiers

        maintain_tiers(self.spark, self.input, self.store, self.tier_ckpt,
                       schema=OBS_SCHEMA)

    def fold_kalman(self) -> None:
        from filter_job import run_filter

        run_filter(self.spark, self.input, self.levels, self.kal_ckpt, OBS_SCHEMA,
                   "text_length", "url", "warc_ts", 0.04, 1.0)

    def make_delta(self, j: int) -> pa.Table:
        """Delta j: forward arrivals for existing urls, inside day j of
        2024 (per-url timestamps keep rising across deltas), plus a
        backfill of urls first seen here with 2023 timestamps, so the fold
        refreshes old 1d/30d cells."""
        g = np.random.default_rng([self.seed, 11, j])
        n = self.size["delta"]
        n_back = int(n * self.backfill_share)
        n_fwd = n - n_back
        urls = g.integers(0, self.size["urls"], n_fwd)
        ts = T2024 + j * DAY + np.sort(g.choice(DAY, n_fwd, replace=False))
        new_ids = self.size["urls"] + j * n_back + np.arange(n_back) // 4
        back_ts = 1672531200 + g.integers(0, 360 * DAY, n_back)
        # distinct timestamps per backfilled url
        back_ts = back_ts - back_ts % 4 + (np.arange(n_back) % 4)
        ids = np.concatenate([urls, new_ids])
        # gen_pages_bulk's url layout, so forward arrivals hit existing urls
        frac = ids.astype("float64") / float(self.size["urls"])
        dom = np.minimum(39, np.floor(40.0 * frac * frac)).astype("int64")
        url = [f"https://domain{d:03d}.example.com/page/{i:08d}" for d, i in zip(dom, ids)]
        tsec = np.concatenate([ts, back_ts]).astype("int64")
        vals = g.integers(200, 2000, n).astype("int64")
        return pa.table({
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(tsec * 1_000_000, pa.timestamp("us", tz="UTC")),
            "text_length": pa.array(vals, pa.int64()),
        })

    def land(self, j: int) -> str:
        path = os.path.join(self.input, f"delta-{j:05d}.parquet")
        tmp = os.path.join(self.input, f".delta-{j:05d}.tmp")
        pq.write_table(self.make_delta(j), tmp)
        os.rename(tmp, path)  # the file source never sees a partial file
        self.deltas.append(path)
        return path

    def query_ranges(self, j: int) -> list[tuple[str, str]]:
        """Seeded ranges of a fixed mix: sub-day ones (mostly raw fringe
        and 1h cells) alternate with multi-month ones (mostly 30d cells)."""
        g = np.random.default_rng([self.seed, 13, j])
        out = []
        for i in range(self.size["queries"]):
            start = 1672531200 + int(g.integers(0, (365 + j) * DAY // 60)) * 60
            if i % 2 == 0:
                length = int(g.integers(2 * 60, 8 * 60)) * 60
            else:
                length = int(g.integers(90, 120)) * DAY + int(g.integers(0, DAY // 60)) * 60
            out.append((_iso(start), _iso(start + length)))
        return out

    def warm_up(self, tracer) -> None:
        """The set-ups ran both folds; this runs the read path once, over
        the base store with a base file as tail. Nothing is landed."""
        tail = _data_files(self.input)[0]
        for t0, t1 in self.query_ranges(0):
            self.query(tracer, t0, t1, tail)

    def query(self, tracer, t0: str, t1: str, tail_path: str):
        """The query_job composition: tiered cover of [t0, t1) plus the whole
        unfolded tail inside the range."""
        from pyspark.sql import functions as F

        from mintpy_spark.operators.rollup import plan_range_cover, route_range_agg
        from mintpy_spark.streaming.tier_maintenance import TierMaintainer

        with tracer.span("query.plan") as sp:
            m = TierMaintainer(self.store)
            m.committed_version(self.spark)  # query_job reports the version read
            tiers = {t: m.read_tier(self.spark, t) for t in m.tiers}
            tail = self.spark.read.parquet(tail_path)
            if sp is not None:  # traced: the files the query reads
                sp["files"] = sum(len(df.inputFiles()) for df in (tail, *tiers.values()))
            cover = plan_range_cover(t0, t1, tuple(m.tiers))
            result = route_range_agg(tail, tiers, t0, t1, "text_length")
            spans = [(lo, hi) for t, lo, hi in cover if t != "raw"]
            if spans:
                cond = None
                for lo, hi in spans:
                    c = (F.col("warc_ts") >= F.lit(lo).cast("timestamp")) & (
                        F.col("warc_ts") < F.lit(hi).cast("timestamp"))
                    cond = c if cond is None else (cond | c)
                extra = tail.where(cond).groupBy("url").agg(
                    F.count("text_length").alias("cnt"),
                    F.sum("text_length").alias("vsum"),
                    F.min("text_length").alias("vmin"),
                    F.max("text_length").alias("vmax"),
                )
                result = result.unionByName(extra).groupBy("url").agg(
                    F.sum("cnt").alias("cnt"), F.sum("vsum").alias("vsum"),
                    F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"),
                )
        with tracer.span("query.exec"):
            rows = result.collect()
        return cover, rows

    def step(self, tracer) -> dict:
        j = len(self.deltas) + 1
        t_step = time.perf_counter()
        with tracer.span("serve.land"):
            tail = self.land(j)
        lat = []
        sample = int(self.rng.integers(0, self.size["queries"]))
        for i, (t0, t1) in enumerate(self.query_ranges(j)):
            q0 = time.perf_counter()
            with tracer.span("query"):
                cover, rows = self.query(tracer, t0, t1, tail)
            lat.append(time.perf_counter() - q0)
            self.n_queries += 1
            if i == sample:
                self.samples.append((cover, len(self.deltas), rows))
        f0 = time.perf_counter()
        with tracer.span("tier_maintenance.maintain_tiers"):
            self.fold_tiers()
        f1 = time.perf_counter()
        with tracer.span("kalman_stream.run_filter"):
            self.fold_kalman()
        f2 = time.perf_counter()
        self.n_folds += 1
        return {"rollup_s": f1 - f0, "kalman_s": f2 - f1, "query_s": lat,
                "step_s": f2 - t_step, "points": self.size["delta"]}

    def all_obs(self, upto: int | None = None):
        """Base plus deltas[:upto], read back raw."""
        paths = [p for p in _data_files(self.input) if "delta-" not in p]
        paths += self.deltas[:upto] if upto is not None else self.deltas
        return self.spark.read.schema(OBS_SCHEMA).parquet(*paths)

    def check(self, chk: Check) -> None:
        from pyspark.sql import functions as F

        from mintpy_spark.operators.kalman import kalman_level
        from mintpy_spark.operators.rollup import build_tiers
        from mintpy_spark.streaming.tier_maintenance import TierMaintainer

        obs = self.all_obs()
        m = TierMaintainer(self.store)
        ref = build_tiers(obs, "text_length")
        cols = ["url", "bucket_start", "cnt", "vsum", "vmin", "vmax"]
        tiers_ok = all(
            _same_rows(m.read_tier(self.spark, t).select(*cols), ref[t].select(*cols))
            for t in m.tiers
        )
        chk.op(tiers_ok, "serve: stored tiers != build_tiers(base + deltas)",
               self.n_folds)

        levels = self.spark.read.parquet(self.levels).select("url", "rn", "level")
        batch = kalman_level(obs, "text_length", key="url", ts="warc_ts")
        n_in = obs.where(F.col("text_length").isNotNull()).count()
        self.rows_dropped = n_in - levels.count()
        chk.op(self.rows_dropped == 0 and _same_rows(levels, batch),
               f"serve: Kalman levels differ from batch ({self.rows_dropped} dropped)",
               self.n_folds)

        for cover, n_landed, rows in self.samples:
            want = _reference_answer(
                self.all_obs(n_landed - 1),
                self.spark.read.schema(OBS_SCHEMA).parquet(self.deltas[n_landed - 1]),
                cover,
            )
            got = {r["url"]: (r["cnt"], r["vsum"], r["vmin"], r["vmax"]) for r in rows}
            chk.op(got == want, f"serve: query {cover[0][1]}.. differs from a raw scan")
        # the unsampled queries ran without error; their answers are unchecked
        chk.attempted += self.n_queries - len(self.samples)


def _reference_answer(folded, tail, cover) -> dict:
    """Raw scan plus aggregate with the query_job semantics: folded rows
    count inside the tier-covered spans, the unfolded tail inside the
    whole range."""
    from pyspark.sql import functions as F

    def within(spans):
        cond = F.lit(False)
        for lo, hi in spans:
            cond = cond | ((F.col("warc_ts") >= F.lit(lo).cast("timestamp"))
                           & (F.col("warc_ts") < F.lit(hi).cast("timestamp")))
        return cond

    tier_spans = [(lo, hi) for t, lo, hi in cover if t != "raw"]
    whole = [(min(lo for _t, lo, _h in cover), max(hi for _t, _l, hi in cover))]
    rows = folded.where(within(tier_spans)).unionByName(tail.where(within(whole)))
    agg = rows.groupBy("url").agg(
        F.count("text_length").alias("cnt"),
        F.sum(F.col("text_length").cast("double")).alias("vsum"),
        F.min(F.col("text_length").cast("double")).alias("vmin"),
        F.max(F.col("text_length").cast("double")).alias("vmax"),
    ).collect()
    return {r["url"]: (r["cnt"], r["vsum"], r["vmin"], r["vmax"]) for r in agg}


def _iso(sec: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def _data_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


WORKLOADS = {w.name: w for w in (Cascade, Ingest, Serve)}
