"""Target-sized copy-on-write writes and the no-op binpack.

Contract: a copy-on-write merge or delete writes its rewrite at the
target file size, not one file per join partition, and ``compact()``
leaves a table it cannot improve alone — no delete files, already the
target file count, unpartitioned, every file written under the current
schema. Such a compaction runs no Spark job and writes no data file,
yet still commits a new version; every other case rewrites as before.
Contents and time travel never change."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)

from .test_merge_auto_mode import _jobs, _rows

N = 2000


def _table(spark, path, files=1, **kw):
    t = SnapshotTable(spark, str(path))
    df = spark.range(N).select(F.col("id"), (F.col("id") % 7).alias("v"))
    t.create_or_replace(df.repartition(files), files, **kw)
    return t


def _data_files(t):
    return {
        os.path.join(d, n)
        for d, _, names in os.walk(os.path.join(t.root, "data"))
        for n in names
        if n.endswith(".parquet")
    }


def _snap(t):
    return t._read_snapshot(t.current_version())


def _assert_rewrites(t):
    before, v = _rows(t.read()), t.current_version()
    assert t.compact(target_files=len(_snap(t)["files"])) == v + 1
    summ = _snap(t)["summary"]
    assert summ["rewritten"] > 0 and summ["added"] > 0, summ
    assert _rows(t.read()) == before


def test_cow_restatement_is_one_file_and_compact_skips_it(spark, tmp_path):
    t = _table(spark, tmp_path / "t", files=16)
    assert len(_snap(t)["files"]) == 16
    src = spark.range(N).filter(F.col("id") % 100 != 0).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    t.merge(src, ["id"], MergeClause(matched_update={"v": "s.v"}), mode="copy-on-write")
    snap = _snap(t)
    assert snap["summary"]["rewritten_files"] == 16
    assert len(snap["files"]) == 1 and snap["summary"]["added_files"] == 1

    history = {v: _rows(t.read(version=v)) for v in (1, 2)}
    on_disk, v = _data_files(t), t.current_version()
    assert _jobs(spark, t.compact) == 0
    after = _snap(t)
    assert after["version"] == v + 1
    assert after["operation"] == "rewrite_data_files"
    assert after["summary"]["rewritten"] == 0 and after["summary"]["added"] == 0
    assert after["files"] == snap["files"]
    assert after["file_seqs"] == snap["file_seqs"]
    assert _data_files(t) == on_disk
    assert _rows(t.read()) == history[2]
    for ver, rows in history.items():
        assert _rows(t.read(version=ver)) == rows


def test_cow_delete_writes_target_sized_files(spark, tmp_path):
    t = _table(spark, tmp_path / "t", files=16)
    victims = spark.range(N).filter(F.col("id") % 3 == 0)
    t.delete_keys(victims, on=["id"])
    snap = _snap(t)
    assert snap["summary"]["rewritten_files"] == 16
    assert len(snap["files"]) == 1
    assert t.read().count() == N - len(range(0, N, 3))


def test_compact_rewrites_live_deletes(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.delete_keys(spark.range(0, N, 5), on=["id"], mode="merge-on-read")
    assert len(_snap(t)["files"]) == 1 and _snap(t)["delete_files"]
    _assert_rewrites(t)
    assert not _snap(t)["delete_files"]
    assert t.read().count() == N - N // 5


def test_compact_rewrites_after_add_column(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.add_column("w", "double")
    _assert_rewrites(t)


def test_compact_rewrites_after_drop_column(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.drop_column("v")
    _assert_rewrites(t)
    # the rewrite dropped the column's bytes, so the name may return
    t.add_column("v", "long")
    assert t.read().filter(F.col("v").isNotNull()).count() == 0


def test_compact_rewrites_partitioned_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.range(N).select("id", F.lit("a").alias("k")), 1, partition_by=["k"]
    )
    assert len(_snap(t)["files"]) == 1
    _assert_rewrites(t)


def test_compact_rewrites_for_zorder_and_sort(spark, tmp_path):
    for strategy, kw in (("zorder", {"zorder_by": ["v"]}), ("sort", {"sort_by": ["v"]})):
        t = _table(spark, tmp_path / strategy)
        before, v = _rows(t.read()), t.current_version()
        t.compact(strategy=strategy, target_files=1, **kw)
        assert _snap(t)["version"] == v + 1
        assert _snap(t)["summary"]["rewritten"] == 1, strategy
        assert _rows(t.read()) == before


def test_compact_rewrites_when_file_count_changes(spark, tmp_path):
    t = _table(spark, tmp_path / "t", files=2)
    assert len(_snap(t)["files"]) == 2
    t.compact(target_files=1)
    assert _snap(t)["summary"]["rewritten"] == 2
    assert len(_snap(t)["files"]) == 1


def test_compact_rewrites_when_writing_snapshot_expired(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.compact()  # skipped: the file keeps its v1 sequence
    assert _snap(t)["summary"]["rewritten"] == 0
    t.expire_snapshots(keep_last=1)  # v1 gone: its schema is unknown
    _assert_rewrites(t)
