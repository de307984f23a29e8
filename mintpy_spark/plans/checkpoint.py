"""Checkpoint / lineage table: the one module that knows what a lineage row is.

The recast of the reference's ``run_or_skip`` (utils/utils1.py:691-746;
ifgram_inversion.py:38-87): every stage appends, per partition, a row
(run_id, stage, part_id, input_fp, row_count, wall_ms, status, ts_unix)
through the one writer, ``record``, which ``run_stage``,
``StoreFold.apply_delta``, ``compact_raw`` and
``checkpoint_lineage_audit`` call. Statuses: ``complete`` (the part holds
``row_count`` rows), ``empty`` (computed, it holds none; the table keeps
no such partition).

One reading rule serves both reads: per (stage, part_id) the
``complete``/``empty`` row appended last decides; rows of another status
(a half-written ``running``) are not read. ``complete_parts(stage,
input_fp)`` (resume) skips a part whose deciding row has that
fingerprint, so a new config or input invalidates every entry, and
returning to an earlier fingerprint recomputes the parts another one
wrote since. ``stage_metrics`` reports the deciding row's count,
whatever its fingerprint, unless it is ``empty``, so the counts are the
store's. Append order is the file name ``ckpt-<seq>-<uuid>.parquet``, ``seq``
one above the directory's highest (concurrent appends may share one),
never ``os.listdir`` order.

Lineage lives under the store's root: ``<root>/_checkpoint`` for a
pipeline store (``for_pipeline``), ``<root>/_maintenance_metrics`` for a
fold store (``for_fold``; ``compact_raw`` records in its maintainer's).
Fold rows are keyed by batch (``part_id`` the batch id, ``run_id``
``batch<id>``, ``input_fp`` ``delta``); a fold's count of 0
(``<name>_late``) is a real count, recorded ``complete``.

Storage is a directory of small parquet files, each written atomically
via temp+rename by driver-side pyarrow (no Spark job); at cluster scale an
Iceberg table replaces it behind this API. It stays outside the
manifest-committed table store (sources/tables.py), so a writer killed
between a store commit and its lineage append leaves that commit
unrecorded, and a resumed pipeline recomputes it.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Mapping

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

STATUSES = ("complete", "empty")


def _seq(name: str) -> int:
    """The append number of ``ckpt-<seq>-<uuid>.parquet``; -1 for an older name."""
    parts = name.split("-")
    return int(parts[1]) if len(parts) == 3 else -1


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

    @classmethod
    def for_pipeline(cls, root: str) -> CheckpointTable:
        return cls(f"{root}/_checkpoint")

    @classmethod
    def for_fold(cls, root: str) -> CheckpointTable:
        return cls(f"{root}/_maintenance_metrics")

    def record(self, run_id: str, input_fp: str, counts: Mapping[str, Mapping[int, int | None]],
               wall_ms: int = 0) -> None:
        """One row per (stage, part_id) of ``counts`` (stage -> part_id ->
        rows), as one append: ``empty`` for ``None`` rows (the part holds
        none), else ``complete`` with the count, 0 too."""
        self.append([
            {"run_id": run_id, "stage": stage, "part_id": int(p),
             "input_fp": input_fp, "row_count": int(n or 0),
             "wall_ms": int(wall_ms), "status": "empty" if n is None else "complete"}
            for stage, parts in counts.items() for p, n in parts.items()
        ])

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        now = time.time()
        for r in rows:
            r.setdefault("ts_unix", now)
        table = pa.Table.from_pylist(rows, schema=SCHEMA)
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        seq = 1 + max((_seq(os.path.basename(f)) for f in self._files()), default=0)
        os.rename(tmp, os.path.join(self.root, f"ckpt-{seq:012d}-{uuid.uuid4().hex}.parquet"))

    def _files(self) -> list[str]:
        """The committed files, oldest append first."""
        names = [
            f for f in os.listdir(self.root)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        return [os.path.join(self.root, f)
                for f in sorted(names, key=lambda f: (_seq(f), f))]

    def load(self) -> pa.Table:
        files = self._files()
        if not files:
            return SCHEMA.empty_table()
        return pa.concat_tables([pq.read_table(f) for f in files])

    def _newest(self, stage: str):
        """Each part's last appended ``complete``/``empty`` row of ``stage``."""
        df = self.load().to_pandas()
        df = df[(df["stage"] == stage) & df["status"].isin(STATUSES)]
        return df.drop_duplicates("part_id", keep="last")

    def complete_parts(self, stage: str, input_fp: str) -> set[int]:
        """The parts whose last appended row has ``input_fp``: done, so a
        resume under that fingerprint skips them."""
        df = self._newest(stage)
        return set(df.loc[df["input_fp"] == input_fp, "part_id"].astype(int).tolist())

    def stage_metrics(self, stage: str) -> dict[int, int]:
        """part_id -> rows, from each part's last appended row (module
        docstring); a part whose last row is ``empty`` is left out."""
        df = self._newest(stage)
        df = df[df["status"] != "empty"]
        return dict(zip(df["part_id"].astype(int), df["row_count"].astype(int)))
