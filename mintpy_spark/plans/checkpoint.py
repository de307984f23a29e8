"""Checkpoint / lineage table.

The engine's recast of the reference's ``run_or_skip`` incrementality
(utils/utils1.py:691-746: compare output mtime + recorded config attrs;
ifgram_inversion.py:38-87: partial-write detection by file size): every
stage records, per partition, an append-only row

    (run_id, stage, part_id, input_fp, row_count, wall_ms, status, ts_utc)

A (stage, part_id, input_fp) with status='complete' is skipped on resume;
changing the input fingerprint (config or upstream data) invalidates the
entry automatically, exactly like the reference's config-attr comparison.

Storage is a directory of small parquet files (one per commit, written
atomically via temp+rename) — driver-side pyarrow, no Spark job needed for
metadata. At cluster scale this becomes an Iceberg table; the API is the
seam. It stays outside the manifest-committed table store
(sources/tables.py): each append is its own file rename, so a
writer killed between a store commit and its lineage append leaves that
commit unrecorded, and a resumed pipeline recomputes it.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("part_id", pa.int32()),
        ("input_fp", pa.string()),
        ("row_count", pa.int64()),
        ("wall_ms", pa.int64()),
        ("status", pa.string()),
        ("ts_unix", pa.float64()),
    ]
)


class CheckpointTable:
    def __init__(self, root: str):
        # driver-local pyarrow implementation: refuse remote URIs loudly —
        # os.makedirs('s3a://...') would create a literal local directory
        # named 's3a:' and silently strand every lineage row on the
        # driver's disk. The cluster deployment swaps this class for an
        # Iceberg table at this exact seam (see module docstring).
        if "://" in root:
            raise NotImplementedError(
                f"CheckpointTable is the local-filesystem stand-in; got "
                f"remote root {root!r} — use the Iceberg-backed lineage "
                "table for cluster deployments (module docstring)"
            )
        self.root = root
        os.makedirs(root, exist_ok=True)

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        now = time.time()
        for r in rows:
            r.setdefault("ts_unix", now)
        table = pa.Table.from_pylist(rows, schema=SCHEMA)
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.root, f"ckpt-{uuid.uuid4().hex}.parquet"))

    def _files(self) -> list[str]:
        return [
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    def load(self) -> pa.Table:
        files = self._files()
        if not files:
            return SCHEMA.empty_table()
        return pa.concat_tables([pq.read_table(f) for f in files])

    def complete_parts(self, stage: str, input_fp: str) -> set[int]:
        t = self.load()
        if t.num_rows == 0:
            return set()
        df = t.to_pandas()
        m = (df["stage"] == stage) & (df["input_fp"] == input_fp) & (
            df["status"] == "complete"
        )
        return set(df.loc[m, "part_id"].astype(int).tolist())

    def stage_metrics(self, stage: str) -> dict[int, int]:
        df = self.load().to_pandas()
        df = df[(df["stage"] == stage) & (df["status"] == "complete")]
        return dict(zip(df["part_id"].astype(int), df["row_count"].astype(int)))
