"""The engine's table store: Parquet tables committed by manifest.

The production design is Iceberg (``sources/iceberg.py`` exposes the same
narrow API, and ``open_table_store`` picks the backend). This module is the
local-filesystem stand-in, and the one commit protocol of every table the
engine writes with Spark: the pipelines' stages, the maintained tiers, the
sequential folds' state and staged output, and the dedup index.

Layout under ``root``::

    <table>/[part_id=<p>/]part-*.parquet   immutable data files
    _manifests/v<N>.json                   one manifest per committed version

Write protocol (crash safety):

* a write *stages* its rows: Spark appends them as new files, under unique
  names, to the table's directory (``part_id=<p>/`` subdirectories for a
  partitioned write). No manifest lists them yet, so no reader sees them,
  and staging renames nothing;
* one ``os.rename`` of ``_manifests/v<N>.json`` commits. The manifest holds,
  per table, its schema and every data file with its ``part_id`` and its
  footer row count. One commit may replace several tables (a tier fold's
  three tiers, a sequential fold's state and output);
  a partition overwrite lists the table's files minus those of the
  replaced partitions, plus the new ones;
* a crash before the rename leaves the previous version authoritative and
  the staged files unreferenced; a crash after it leaves the new version
  committed. A reader plans from one manifest and data files are never
  rewritten, so it sees exactly one version: never a mix, never a gap;
* ``expire`` keeps the newest ``KEEP_VERSIONS`` manifests and deletes every
  data file in the tables' directories that none of them lists: files a
  commit replaced and files a crashed writer staged. A reader planned on an
  expired version loses its files, so expiry keeps the previous version
  too.

Reads are planned from the manifest: its schema and file list go to
``spark.read.schema(..).parquet(*files)`` with ``basePath`` at the table
directory, so a read lists no directory, infers no schema and discovers no
partitions (above 32 files Spark checks the files in one listing job).

One writer per store (the engine's writers are driver-scheduled).
Partition values are integers. The store is local-filesystem only and
refuses a ``://`` root, as ``CheckpointTable`` does; a cluster uses
``IcebergTableStore``. It also refuses a root that the old protocol wrote
(bare ``part_id=`` partitions, or ``v<N>/`` directories with ``_commits``
markers, and no ``_manifests``) rather than read it as an empty store.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_MANIFEST = re.compile(r"v(\d+)\.json")
# versions ``expire`` retains: the latest, and the previous one that a
# replay recomputes from and a reader planned before the commit still reads
KEEP_VERSIONS = 2


def _data_files(table_dir: str) -> list[str]:
    """Paths, relative to ``table_dir``, of the Parquet data files under it
    (a crashed Spark write's ``_temporary`` directory is not searched)."""
    out = []
    for dirpath, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.relpath(os.path.join(dirpath, f), table_dir)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def _old_layout(root: str) -> bool:
    """True iff ``root`` has a ``_commits`` directory or a table directory
    with ``part_id=`` partitions: what the store's old protocol left."""
    if not os.path.isdir(root):
        return False
    if os.path.isdir(os.path.join(root, "_commits")):
        return True
    for table in os.listdir(root):
        path = os.path.join(root, table)
        if table.startswith(("_", ".")) or not os.path.isdir(path):
            continue
        if any(d.startswith("part_id=") for d in os.listdir(path)):
            return True
    return False


def part_rows(entry: dict) -> dict[int, int]:
    """{partition id: rows} of a manifest entry, in partition order."""
    out: dict[int, int] = {}
    for f in entry["files"]:
        out[f["part_id"]] = out.get(f["part_id"], 0) + f["rows"]
    return dict(sorted(out.items()))


class TableStore:
    def __init__(self, root: str):
        if "://" in root:
            raise NotImplementedError(
                f"TableStore is the local-filesystem stand-in; got remote root "
                f"{root!r} — use IcebergTableStore on a cluster (module docstring)"
            )
        self.root = root
        self._manifests = os.path.join(root, "_manifests")
        if not os.path.isdir(self._manifests) and _old_layout(root):
            raise ValueError(
                f"{root} holds tables of the old store layout (bare part_id= "
                f"partitions, or v<N>/ directories with _commits markers) and no "
                f"_manifests; this store does not read them — see the upgrade "
                f"note in README.md (Storage) and write to a new root"
            )
        os.makedirs(self._manifests, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- versions -----------------------------------------------------------
    def versions(self) -> list[int]:
        """Committed, still retained versions, oldest first. Only
        ``v<digits>.json`` names count: a stray entry (``v6.json.bak``, an
        unfinished ``.tmp`` manifest) is not a version."""
        return sorted(
            int(m.group(1))
            for m in map(_MANIFEST.fullmatch, os.listdir(self._manifests))
            if m
        )

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: the latest; an empty one
        before the first commit). A version that was never committed or
        has expired raises FileNotFoundError."""
        if version is None:
            version = self.latest()
            if version is None:
                return {"version": None, "tables": {}}
        with open(os.path.join(self._manifests, f"v{version}.json")) as fh:
            return json.load(fh)

    def entry(self, table: str, version: int | None = None) -> dict | None:
        """``table``'s manifest entry, {"schema", "files": [{"path",
        "part_id", "rows"}]}, or None when the version has no such table."""
        return self.manifest(version)["tables"].get(table)

    # -- the narrow contract (shared with IcebergTableStore) ----------------
    def exists(self, table: str) -> bool:
        e = self.entry(table)
        return bool(e and e["files"])

    def partitions(self, table: str, col: str = "part_id") -> list[int]:
        """Committed partition ids."""
        e = self.entry(table)
        return sorted({f["part_id"] for f in e["files"]}) if e else []

    def rows(self, table: str) -> int:
        """Committed rows of ``table``, summed from its manifest entry."""
        e = self.entry(table)
        return sum(f["rows"] for f in e["files"]) if e else 0

    def write_partitions(
        self, df: DataFrame, table: str, parts, col: str = "part_id"
    ) -> dict[int, int]:
        """Overwrite the partitions ``parts`` with ``df``'s rows (``df``
        must contain ``col`` and hold no other partition) in one commit;
        other partitions are carried over, and a listed partition ``df``
        holds no row of is dropped. Returns {partition id: rows written},
        from the staged files' footers, so counting what was written
        costs no Spark job."""
        staged = self.stage(df, table, col)
        written = part_rows(staged)
        self.commit({table: self.replaced(table, staged, parts)})
        self.expire()
        return written

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self.read_version(spark, table, None)

    def drop(self, table: str) -> None:
        if self.entry(table) is not None:
            self.commit({table: None})
            self.expire()

    # -- snapshots ------------------------------------------------------------
    def read_version(
        self, spark: SparkSession, table: str, version: int | None
    ) -> DataFrame:
        """``table`` as committed at ``version`` (None: the latest), planned
        from the manifest: no listing, no inference, no discovery."""
        e = self.entry(table, version)
        if e is None:
            raise FileNotFoundError(f"no table {table!r} in {self.root} at version {version}")
        schema = StructType.fromJson(json.loads(e["schema"]))
        if not e["files"]:
            return spark.createDataFrame([], schema)
        return (
            spark.read.schema(schema)
            .option("basePath", self.path(table))
            .parquet(*[os.path.join(self.root, f["path"]) for f in e["files"]])
        )

    # -- the protocol's steps -------------------------------------------------
    def stage(self, df: DataFrame, table: str, col: str | None = None) -> dict:
        """Write ``df`` as new data files of ``table`` (partitioned by
        ``col`` if given) and return the manifest entry of just those
        files. They stay invisible until a commit lists them."""
        dest = self.path(table)
        before = set(_data_files(dest)) if os.path.isdir(dest) else set()
        writer = df.write.mode("append")
        (writer.partitionBy(col) if col else writer).parquet(dest)
        files = []
        for rel in sorted(set(_data_files(dest)) - before):
            part = None
            if col:
                # the file's partition directory, as Spark names it
                part = int(os.path.dirname(rel).split("=", 1)[1])
            n = pq.ParquetFile(os.path.join(dest, rel)).metadata.num_rows
            files.append({"path": os.path.join(table, rel), "part_id": part, "rows": n})
        schema = df.schema
        if col:
            # the partition column reads last, typed as Spark infers it
            schema = StructType(
                [f for f in schema if f.name != col] + [StructField(col, IntegerType())]
            )
        return {"schema": schema.json(), "files": files}

    def appended(self, table: str, staged: dict) -> dict:
        """``table``'s entry plus ``staged``'s files; columns that only the
        staged files have are added to the schema (older files read them as
        NULL)."""
        old = self.entry(table)
        if old is None:
            return staged
        schema = StructType.fromJson(json.loads(old["schema"]))
        new = [f for f in StructType.fromJson(json.loads(staged["schema"]))
               if f.name not in schema.names]
        return {
            "schema": StructType(list(schema) + new).json(),
            "files": old["files"] + staged["files"],
        }

    def replaced(self, table: str, staged: dict, parts) -> dict:
        """``table``'s entry with the partitions ``parts`` replaced by
        ``staged``'s files."""
        old = self.entry(table)
        drop = set(parts)
        kept = [f for f in old["files"] if f["part_id"] not in drop] if old else []
        return {"schema": staged["schema"], "files": kept + staged["files"]}

    def commit(self, tables: dict, version: int | None = None) -> int:
        """Commit the latest version with each table in ``tables`` set to
        its entry (None drops it), as ``version`` (default: the next one;
        an explicit one may not precede the latest). One manifest rename is
        the commit point."""
        parent = self.manifest()
        latest = parent["version"]
        if version is None:
            version = 1 if latest is None else latest + 1
        elif latest is not None and version < latest:
            raise ValueError(f"version {version} precedes the committed {latest}")
        body = dict(parent["tables"])
        for table, e in tables.items():
            if e is None:
                body.pop(table, None)
            else:
                body[table] = e
        tmp = os.path.join(self._manifests, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump({"version": version, "tables": body}, fh)
        os.rename(tmp, os.path.join(self._manifests, f"v{version}.json"))
        return version

    def expire(self) -> list[str]:
        """Keep the newest ``KEEP_VERSIONS`` manifests; delete the data
        files (and their checksums) in any manifest's tables that no kept
        manifest lists, then the older manifests and unfinished ``.tmp``
        ones. Returns the deleted data files, store-relative."""
        vs = self.versions()
        live: set[str] = set()
        tables: set[str] = set()
        for i, v in enumerate(vs):
            m = self.manifest(v)
            tables.update(m["tables"])
            if i >= len(vs) - KEEP_VERSIONS:
                live.update(f["path"] for e in m["tables"].values() for f in e["files"])
        deleted = []
        for table in sorted(tables):
            for dirpath, _dirs, files in os.walk(self.path(table), topdown=False):
                for name in files:
                    rel = os.path.relpath(os.path.join(dirpath, name), self.root)
                    if name.endswith(".parquet") and not name.startswith(("_", ".")):
                        dead = rel not in live
                    elif name.startswith(".") and name.endswith(".parquet.crc"):
                        data = os.path.join(os.path.dirname(rel), name[1:-4])
                        dead = data not in live or not os.path.exists(
                            os.path.join(self.root, data))
                    else:
                        continue
                    if dead:
                        os.remove(os.path.join(dirpath, name))
                        if name.endswith(".parquet"):
                            deleted.append(rel)
                if dirpath != self.path(table) and not os.listdir(dirpath):
                    os.rmdir(dirpath)
        for name in os.listdir(self._manifests):
            m = _MANIFEST.fullmatch(name)
            if (m and int(m.group(1)) in vs[:-KEEP_VERSIONS]) or name.startswith(".tmp-"):
                os.remove(os.path.join(self._manifests, name))
        return sorted(deleted)


def input_fingerprint(path: str) -> str:
    """Snapshot fingerprint of a parquet directory: md5 over the sorted
    (relative-path, size) listing of data files — the parquet-fallback
    analog of an Iceberg snapshot id (SURVEY.md §1.3). Any added, removed,
    or rewritten data file changes it; the checkpointed pipeline combines
    it with the config fingerprint so grown/changed inputs invalidate
    completed partitions exactly like the reference's mtime + config-attr
    comparison (utils/utils1.py:691-746)."""
    import hashlib

    h = hashlib.md5()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, path)
            h.update(f"{rel}:{os.path.getsize(full)};".encode())
    return h.hexdigest()[:16]


def with_part_id(df: DataFrame, key: str = "url", buckets: int = 32) -> DataFrame:
    """Stable key-hash bucketing column — the engine's explicit partitioning
    (salted-hash analog of the reference's split2boxes, stack.py:1073-1109).
    Deterministic across runs and parallelism levels."""
    return df.withColumn("part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)))
