"""Cost-chosen merge write mode (``mode='auto'``, the default).

Contract: the default picks merge-on-read for deltas small next to the
files they touch and copy-on-write otherwise, records why in the commit
summary, and never changes what a reader sees — every version of an
auto-mode SCD2 history equals its copy-on-write twin. The job-count
guards keep merge-on-read cheap enough to be that default."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from iceberg_evaluation_spark.operators.scd2 import bulk_insert, scd2_complex
from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)

N = 2000
DAY0 = datetime(2024, 1, 1)
SCHEMA = "pk bigint, qty bigint, extraction_timestamp timestamp"


def _rows(df):
    return sorted(
        map(tuple, df.collect()), key=lambda t: tuple((v is None, v) for v in t)
    )


def _load(spark):
    return spark.createDataFrame([(i, i % 50, DAY0) for i in range(N)], SCHEMA)


def _delta(spark, keys, day, qty):
    return spark.createDataFrame(
        [(k, qty, DAY0 + timedelta(days=day)) for k in keys], SCHEMA
    )


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` runs, counted through its own job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _probe(table):
    return lambda: table.read().agg(
        F.count(F.lit(1)), F.sum("v")
    ).collect()


def test_auto_scd2_equals_copy_on_write_at_every_version(spark, tmp_path):
    auto = SnapshotTable(spark, str(tmp_path / "auto"))
    cow = SnapshotTable(spark, str(tmp_path / "cow"))
    for t in (auto, cow):
        bulk_insert(t, _load(spark), partitions=16)
    # every earlier delta's keys lie inside the restatement's, so the
    # restatement touches (and rewrites) every live file
    batches = [
        ("0.1%", [1, 2], 2),
        ("1%", [k for k in range(N) if k % 100 == 1], 3),
        ("10%", [k for k in range(N) if k % 10 == 3], 4),
        ("late", [5, 13, 23], 1),  # splices before the day-2..4 versions
        ("99%", [k for k in range(N) if k % 100 != 0], 5),
    ]
    chosen = {}
    for name, keys, day in batches:
        scd2_complex(auto, _delta(spark, keys, day, -day))
        scd2_complex(cow, _delta(spark, keys, day, -day), mode="copy-on-write")
        summ = auto._read_snapshot(auto.current_version())["summary"]
        assert summ["source_rows"] is not None
        assert summ["candidate_rows"] is not None
        chosen[name] = summ["mode"]
    assert chosen == {
        "0.1%": "merge-on-read",
        "1%": "merge-on-read",
        "10%": "merge-on-read",
        "late": "merge-on-read",
        "99%": "copy-on-write",
    }
    assert auto.current_version() == cow.current_version() == 1 + len(batches)
    for v in range(1, auto.current_version() + 1):
        assert _rows(auto.read(version=v)) == _rows(cow.read(version=v)), v
    # the restatement rewrote every file after four MOR commits: their
    # equality deletes can no longer match a row and left the manifest
    last = auto._read_snapshot(auto.current_version())
    assert last["summary"]["carried_files"] == 0
    assert last["delete_files"] == []
    assert auto._read_snapshot(auto.current_version() - 1)["delete_files"]


def test_explicit_modes_override_the_cost_rule(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.range(0, 400).selectExpr("id", "id AS v"), partitions=8
    )
    clause = MergeClause(matched_update={"v": "s.v"})
    small = spark.createDataFrame([(1, -1)], "id long, v long")
    t.merge(small, on=["id"], clause=clause, mode="copy-on-write")
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["mode"] == "copy-on-write"
    assert summ["rewritten_files"] > 0
    big = spark.range(0, 400).selectExpr("id", "-id AS v")
    t.merge(big, on=["id"], clause=clause, mode="merge-on-read")
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["mode"] == "merge-on-read" and summ["rewritten_files"] == 0
    assert _rows(t.read()) == [(i, -i) for i in range(400)]


def test_auto_without_source_stats_falls_back_to_copy_on_write(spark, tmp_path):
    """A merge that skips the fused source aggregation (no uniqueness
    probe, too few files to prune) has no source count to weigh, so it
    keeps copy-on-write rather than pay a job for one."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.range(0, 100).selectExpr("id", "id AS v"), partitions=2)
    t.merge(
        spark.createDataFrame([(1, -1)], "id long, v long"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
        validate_source_unique=False,
    )
    summ = t._read_snapshot(t.current_version())["summary"]
    assert summ["mode"] == "copy-on-write" and summ["source_rows"] is None


def test_mor_post_images_double_as_delete_set(spark, tmp_path):
    """An update/insert clause writes ONE file set that serves as both
    the post-images and the equality deletes; a clause with a delete
    branch keeps the separate key files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.range(0, 100).selectExpr("id", "id AS v"), partitions=4)
    src = spark.createDataFrame([(1, -1), (500, 5)], "id long, v long")
    t.merge(src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
            mode="merge-on-read")
    snap = t._read_snapshot(t.current_version())
    new = set(snap["files"]) - set(t._read_snapshot(1)["files"])
    assert {d["file"] for d in snap["delete_files"]} == new
    want = [(i, -1 if i == 1 else i) for i in range(100)] + [(500, 5)]
    assert _rows(t.read()) == want

    t.merge(
        spark.createDataFrame([(2, True)], "id long, gone boolean"),
        on=["id"],
        clause=MergeClause(matched_delete_condition="s.gone",
                           insert_when_not_matched=False),
        mode="merge-on-read",
    )
    snap = t._read_snapshot(t.current_version())
    key_files = {d["file"] for d in snap["delete_files"] if d["seq"] == snap["version"]}
    assert key_files and not key_files & set(snap["files"])
    assert _rows(t.read()) == [r for r in want if r[0] != 2]


def test_mor_insert_that_rewrites_a_key_keeps_separate_delete_set(spark, tmp_path):
    """An insert whose key expression is not the source key can land on
    a live key; its post-image must not double as a delete there."""
    base = spark.range(0, 10).selectExpr("id", "id AS v")
    src = spark.createDataFrame([(1, -1), (50, -50)], "id long, v long")
    clause = MergeClause(
        matched_update={"v": "s.v"},
        insert_values={"id": "s.id - 45", "v": "s.v"},
    )
    got = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = SnapshotTable(spark, str(tmp_path / mode))
        t.create_or_replace(base, partitions=2)
        t.merge(src, on=["id"], clause=clause, mode=mode)
        got[mode] = _rows(t.read())
    assert got["merge-on-read"] == got["copy-on-write"]
    assert (5, 5) in got["merge-on-read"] and (5, -50) in got["merge-on-read"]


def test_dead_deletes_dropped_at_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.range(0, 50).selectExpr("id", "id AS v"), partitions=2)
    clause = MergeClause(matched_update={"v": "s.v"})
    for k in (1, 2):
        t.merge(spark.createDataFrame([(k, -k)], "id long, v long"), on=["id"],
                clause=clause, mode="merge-on-read")
    dels = t._read_snapshot(t.current_version())["delete_files"]
    assert {d["seq"] for d in dels} == {2, 3}
    want = _rows(t.read())
    # a copy-on-write merge touching every key rewrites every file
    t.merge(t.read(), on=["id"], clause=clause, mode="copy-on-write")
    assert t._read_snapshot(t.current_version())["delete_files"] == []
    assert _rows(t.read()) == want


def _three_merges(spark, root, mode):
    """A 16-file table after three 16-row update merges in ``mode``."""
    t = SnapshotTable(spark, str(root))
    t.create_or_replace(spark.range(0, 1600).selectExpr("id", "id % 7 AS v"), partitions=16)
    clause = MergeClause(matched_update={"v": "s.v"})
    for i in range(3):
        src = spark.range(i * 40, i * 40 + 16).selectExpr("id", f"{-i} AS v")
        t.merge(src, on=["id"], clause=clause, mode=mode)
    return t


def test_mor_read_costs_at_most_one_job_more_than_cow(spark, tmp_path):
    mor = _three_merges(spark, tmp_path / "mor", "merge-on-read")
    cow = _three_merges(spark, tmp_path / "cow", "copy-on-write")
    dels = mor._read_snapshot(mor.current_version())["delete_files"]
    assert {d["seq"] for d in dels} == {2, 3, 4}
    assert _rows(mor.read()) == _rows(cow.read())
    _jobs(spark, _probe(mor))  # first-use costs land outside the count
    _jobs(spark, _probe(cow))
    assert _jobs(spark, _probe(mor)) <= _jobs(spark, _probe(cow)) + 1


def test_delete_free_read_runs_no_extra_job(spark, tmp_path):
    cow = _three_merges(spark, tmp_path / "cow", "copy-on-write")
    snap = cow._read_snapshot(cow.current_version())
    assert snap["delete_files"] == []
    files = [f"{cow.root}/{rel}" for rel in snap["files"]]

    def plain():
        spark.read.schema("id long, v long").parquet(*files).agg(
            F.count(F.lit(1)), F.sum("v")
        ).collect()

    _jobs(spark, plain)
    assert _jobs(spark, _probe(cow)) == _jobs(spark, plain)


def test_small_scd2_delta_writes_only_changed_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    bulk_insert(t, _load(spark), partitions=16)
    assert len(t._read_snapshot(1)["files"]) == 16
    keys = [k for k in range(N) if k % 100 == 7]  # 1% of the keys
    v = scd2_complex(t, _delta(spark, keys, 1, -1))
    written = (
        t.files_metadata(v)
        .filter(F.col("added_in_version") == v)
        .agg(F.sum("record_count"))
        .collect()[0][0]
    )
    # each updated key changes two rows: the closed-out version and the new one
    assert written / (2 * len(keys)) <= 1.1
