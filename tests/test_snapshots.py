"""Snapshots of the table store (sources/tables.py): commit atomicity, time
travel, expiry, and schema evolution on append."""

from __future__ import annotations

import os

import pytest

from mintpy_spark.sources.tables import TableStore, _data_files


@pytest.fixture()
def store(tmp_path):
    return TableStore(str(tmp_path / "snap"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def write(store, df, table="t"):
    return store.commit({table: store.stage(df, table)})


def append(store, df, table="t"):
    return store.commit({table: store.appended(table, store.stage(df, table))})


def test_write_read_and_time_travel(spark, store):
    v1 = write(store, _df(spark, [(1, "a"), (2, "b")]))
    v2 = append(store, _df(spark, [(3, "c")]))
    assert (v1, v2) == (1, 2)
    assert store.read(spark, "t").count() == 3
    assert store.read_version(spark, "t", 1).count() == 2
    # append carries parent files by reference, not by copy
    f1, f2 = ({f["path"] for f in store.entry("t", v)["files"]} for v in (1, 2))
    assert f1 < f2
    assert store.rows("t") == 3


def test_uncommitted_files_are_invisible(spark, store):
    write(store, _df(spark, [(1, "a")]))
    # simulate a writer crash AFTER staging data but BEFORE the manifest
    # rename: stage files directly, never commit
    store.stage(_df(spark, [(9, "ghost")]), "t")
    assert store.read(spark, "t").count() == 1
    assert store.latest() == 1
    # the next expiry deletes the orphan
    store.expire()
    listed = {f["path"] for f in store.entry("t")["files"]}
    assert {os.path.join("t", f) for f in _data_files(store.path("t"))} == listed


def test_expire_gc_keeps_referenced_files(spark, store):
    write(store, _df(spark, [(1, "a")]))
    write(store, _df(spark, [(1, "A")]))
    write(store, _df(spark, [(1, "AA")]))
    v1_files = [f["path"] for f in store.entry("t", 1)["files"]]
    deleted = store.expire(keep_last=2)
    assert deleted == sorted(v1_files), "v1's files must be GC'd"
    assert store.versions() == [2, 3]
    # surviving versions stay readable after GC
    assert store.read_version(spark, "t", 2).count() == 1
    assert [r.v for r in store.read(spark, "t").collect()] == ["AA"]
    with pytest.raises(FileNotFoundError):
        store.read_version(spark, "t", 1)


def test_schema_evolution_on_append(spark, store):
    write(store, _df(spark, [(1, "a")]))
    evolved = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    append(store, evolved)
    got = store.read(spark, "t")
    assert set(got.columns) == {"k", "v", "score"}
    rows = {r.k: r.score for r in got.collect()}
    assert rows[1] is None and rows[2] == 9.5
    # pre-evolution snapshot still reads with its own schema
    assert set(store.read_version(spark, "t", 1).columns) == {"k", "v"}


def test_partition_overwrite_and_manifest_read(spark, store):
    """A partition overwrite replaces only the partitions it writes, in one
    commit; the read is planned from the manifest with the partition
    column typed as Spark would infer it, and runs no Spark job."""
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 2)], "k long, v string, part_id long"
    )
    assert store.write_partitions(df, "t") == {0: 1, 1: 1, 2: 1}
    assert store.write_partitions(
        spark.createDataFrame([(4, "d", 1)], "k long, v string, part_id long"), "t"
    ) == {1: 1}
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    got = store.read(spark, "t")
    assert dag.nextJobId() == j0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("k", "bigint"), ("v", "string"), ("part_id", "int")
    ]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "a", 0), (3, "c", 2), (4, "d", 1)
    ]
    assert store.partitions("t") == [0, 1, 2]
    # a replaced partition with no row in the write is dropped by the commit
    staged = store.stage(df.where("k = 3"), "t", "part_id")
    store.commit({"t": store.replaced("t", staged, [1, 2])})
    assert store.partitions("t") == [0, 2]
    assert store.rows("t") == 2


def test_stray_manifest_entries_are_not_versions(store):
    store.commit({})
    for name in ("v6.json.bak", "v6.bak", "vx.json", ".tmp-1.json"):
        open(os.path.join(store.root, "_manifests", name), "w").write("")
    assert store.versions() == [1]
    assert store.commit({}) == 2


def test_remote_root_is_refused():
    with pytest.raises(NotImplementedError, match="remote root"):
        TableStore("s3a://bucket/store")


@pytest.mark.parametrize("layout", ["partitions", "commits"])
def test_old_layout_root_is_refused(spark, tmp_path, layout):
    # roots the old protocol wrote: a pipeline store's bare part_id=
    # partitions, or a maintainer's v<N>/ directories plus _commits markers
    root = tmp_path / "old"
    if layout == "partitions":
        _df(spark, [(1, "a")]).write.parquet(str(root / "obs" / "part_id=0"))
    else:
        _df(spark, [(1, "a")]).write.parquet(str(root / "v3" / "tier_1h"))
        (root / "_commits").mkdir()
        (root / "_commits" / "v3").write_text("")
    with pytest.raises(ValueError, match="old store layout"):
        TableStore(str(root))
    assert not (root / "_manifests").exists()

