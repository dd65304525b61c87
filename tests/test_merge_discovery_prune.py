"""Metadata pre-pruning of MERGE/DELETE touched-file discovery: on a
clustered/bucketed layout the discovery scan reads candidate files
only, with byte-identical outcomes to the full-scan plan — and the
NULL-key guard keeps it sound (column stats ignore nulls)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)


def _base(spark, n=400):
    return spark.createDataFrame(
        [Row(k=i, grp=i % 10, val=float(i)) for i in range(n)]
    )


def _upsert_clause():
    return MergeClause(
        matched_update={"val": "s.val"},
        insert_when_not_matched=True,
    )


def test_merge_discovery_prunes_on_clustered_layout(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(_base(spark).repartitionByRange(10, "k"))
    total = len(t._read_snapshot(t.current_version())["files"])
    delta = spark.createDataFrame(
        [Row(k=i, grp=i % 10, val=-1.0) for i in (3, 5, 7, 401)]
    )
    t.merge(delta, on=["k"], clause=_upsert_clause(), mode="copy-on-write")
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["discovery_candidates"] < total
    assert summ["rewritten_files"] <= summ["discovery_candidates"]
    out = t.read()
    assert out.count() == 401
    assert out.filter(F.col("k").isin(3, 5, 7, 401)).agg(
        F.sum("val")
    ).collect()[0][0] == -4.0
    # untouched rows intact
    assert out.filter(F.col("k") == 100).collect()[0]["val"] == 100.0


def test_merge_discovery_prunes_through_bucket_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(_base(spark), partitions=2, partition_by=["bucket(8, k)"])
    total = len(t._read_snapshot(t.current_version())["files"])
    delta = spark.createDataFrame([Row(k=42, grp=2, val=-1.0)])
    t.merge(delta, on=["k"], clause=_upsert_clause())
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["discovery_candidates"] < total
    out = t.read()
    assert out.filter(F.col("k") == 42).collect()[0]["val"] == -1.0
    assert out.count() == 400


def test_null_key_disables_pruning_and_stays_correct(spark, tmp_path):
    """A NULL source key must match NULL target rows (eqNullSafe) even
    though no file's stats advertise nulls — the guard skips pruning
    entirely rather than lose the match."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = [Row(k=i, grp=i % 10, val=float(i)) for i in range(200)]
    rows.append(Row(k=None, grp=99, val=12345.0))
    t.create_or_replace(
        spark.createDataFrame(rows).repartitionByRange(10, "k")
    )
    delta = spark.createDataFrame(
        [(None, 99, -5.0)], schema="k bigint, grp bigint, val double"
    )
    t.merge(delta, on=["k"], clause=_upsert_clause(), mode="copy-on-write")
    summ = t._read_snapshot(t.current_version())["summary"]
    # no pruning: every file was a discovery candidate
    n_files_prev = summ["rewritten_files"] + summ["carried_files"]
    assert summ["discovery_candidates"] == n_files_prev
    out = t.read()
    assert out.count() == 201
    assert out.filter(F.col("k").isNull()).collect()[0]["val"] == -5.0


def test_delete_keys_autoprune_matches_full_scan(spark, tmp_path):
    left = SnapshotTable(spark, str(tmp_path / "a"))
    right = SnapshotTable(spark, str(tmp_path / "b"))
    df = _base(spark).repartitionByRange(10, "k")
    left.create_or_replace(df)
    right.create_or_replace(df)
    keys = spark.createDataFrame([Row(k=i) for i in range(50, 60)])
    n1 = left.delete_keys(keys, on=["k"])  # auto-pruned (>= 8 files)
    n2 = right.delete_keys(
        keys, on=["k"], prune_filters=[("k", "between", (0, 1_000_000))]
    )  # effectively unpruned
    assert n1 == n2 == 10
    a = left.read().orderBy("k").collect()
    b = right.read().orderBy("k").collect()
    assert a == b


def test_merge_equivalence_small_vs_large_key_sets(spark, tmp_path):
    """>1000 distinct keys takes the between-translation path; result
    must equal the in-list path's semantics."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(_base(spark, 3000).repartitionByRange(12, "k"))
    delta = spark.createDataFrame(
        [Row(k=i, grp=i % 10, val=-2.0) for i in range(500, 2000)]
    )
    t.merge(delta, on=["k"], clause=_upsert_clause())
    out = t.read()
    assert out.count() == 3000
    assert out.filter(F.col("val") == -2.0).count() == 1500
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["discovery_candidates"] < 12  # range clustering pruned
