"""Merge-on-read mode: Iceberg v2 equality-delete semantics.

The contract: a merge-on-read table is CONTENT-IDENTICAL to the same
operations applied copy-on-write, at every version — MOR only changes
what gets written, never what a reader sees."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)


def _rows(df):
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _pair(spark, tmp_path, df, partitions=4):
    cow = SnapshotTable(spark, str(tmp_path / "cow"))
    mor = SnapshotTable(spark, str(tmp_path / "mor"))
    cow.create_or_replace(df, partitions=partitions)
    mor.create_or_replace(df, partitions=partitions)
    return cow, mor


def _merge_both(cow, mor, src, on, clause):
    cow.merge(src, on=on, clause=clause, mode="copy-on-write")
    mor.merge(src, on=on, clause=clause, mode="merge-on-read")


def test_mor_equals_cow_update_insert_delete(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (None, "n", 40)],
        "id bigint, name string, v bigint",
    )
    cow, mor = _pair(spark, tmp_path, base)
    src = spark.createDataFrame(
        [(1, "A", 11, False), (3, None, 0, True), (4, "d", 44, False), (None, "N", 41, False)],
        "id bigint, name string, v bigint, deleted boolean",
    )
    clause = MergeClause(
        matched_update={"name": "s.name", "v": "s.v"},
        matched_delete_condition="s.deleted",
    )
    _merge_both(cow, mor, src, ["id"], clause)
    assert _rows(mor.read()) == _rows(cow.read())
    # and the MOR write was actually a delta, not a rewrite
    summary = mor._read_snapshot(mor.current_version())["summary"]
    assert summary["rewritten_files"] == 0
    assert summary["added_delete_files"] >= 1


def test_mor_sequence_chain_three_merges(spark, tmp_path):
    """update → update → delete of the same key across three MOR merges:
    each delete must kill exactly the lower-sequence images."""
    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    cow, mor = _pair(spark, tmp_path, base, partitions=2)
    clause = MergeClause(matched_update={"v": "s.v"})
    for batch in ([(1, 11)], [(1, 12)]):
        src = spark.createDataFrame(batch, "id bigint, v bigint")
        _merge_both(cow, mor, src, ["id"], clause)
        assert _rows(mor.read()) == _rows(cow.read())
    # now delete id=1 entirely
    del_clause = MergeClause(
        matched_update=None, matched_delete_condition="true",
        insert_when_not_matched=False,
    )
    src = spark.createDataFrame([(1, 0)], "id bigint, v bigint")
    _merge_both(cow, mor, src, ["id"], del_clause)
    assert _rows(mor.read()) == _rows(cow.read()) == [(2, 20)]
    # time travel sees every intermediate state
    assert _rows(mor.read(version=2)) == [(1, 11), (2, 20)]
    assert _rows(mor.read(version=3)) == [(1, 12), (2, 20)]


def test_mor_compact_materializes_deletes(spark, tmp_path):
    base = spark.createDataFrame([(i, i * 10) for i in range(100)], "id bigint, v bigint")
    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(base, partitions=4)
    src = spark.createDataFrame([(i, -i) for i in range(0, 100, 7)], "id bigint, v bigint")
    mor.merge(src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
              mode="merge-on-read")
    before = _rows(mor.read())
    assert len(mor._read_snapshot(mor.current_version())["delete_files"]) >= 1
    mor.compact(target_files=2)
    after_snap = mor._read_snapshot(mor.current_version())
    assert after_snap["delete_files"] == []  # materialized
    assert _rows(mor.read()) == before


def test_mor_append_and_read_where_respect_deletes(spark, tmp_path):
    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(base, partitions=1)
    mor.merge(
        spark.createDataFrame([(2, 0)], "id bigint, v bigint"),
        on=["id"],
        clause=MergeClause(matched_update=None, matched_delete_condition="true",
                           insert_when_not_matched=False),
        mode="merge-on-read",
    )
    # append AFTER the delete: re-adds id=2 with a higher sequence — the
    # old delete must not kill the new row
    mor.append(spark.createDataFrame([(2, 22)], "id bigint, v bigint"))
    assert _rows(mor.read()) == [(1, 10), (2, 22)]
    assert _rows(mor.read_where([("id", ">=", 2)])) == [(2, 22)]


def test_mor_maintenance_keeps_delete_files(spark, tmp_path):
    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint"))
    mor.merge(
        spark.createDataFrame([(1, 11)], "id bigint, v bigint"),
        on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
        mode="merge-on-read",
    )
    want = _rows(mor.read())
    # orphan cleanup with an aggressive cutoff must NOT remove referenced
    # delete files
    removed = mor.remove_orphan_files(older_than_ms=2**62)
    assert _rows(mor.read()) == want
    # expiring history keeps the current snapshot readable
    mor.expire_snapshots(keep_last=1)
    assert _rows(mor.read()) == want


def test_cow_merge_after_mor_merge_carries_deletes(spark, tmp_path):
    """A copy-on-write merge on a table with live deletes must not
    resurrect dead rows — in touched OR untouched files."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "id bigint, v bigint"
    )
    cow, mor = _pair(spark, tmp_path, base, partitions=4)
    upd = MergeClause(matched_update={"v": "s.v"})
    # MOR update on ids 1,3
    _merge_both(cow, mor, spark.createDataFrame([(1, 11), (3, 33)], "id bigint, v bigint"), ["id"], upd)
    # then a COW update touching only id 1
    cow.merge(spark.createDataFrame([(1, 111)], "id bigint, v bigint"), on=["id"], clause=upd,
              mode="copy-on-write")
    mor.merge(spark.createDataFrame([(1, 111)], "id bigint, v bigint"), on=["id"], clause=upd,
              mode="copy-on-write")
    assert _rows(mor.read()) == _rows(cow.read()) == [(1, 111), (2, 20), (3, 33), (4, 40)]


def test_mor_null_keys_and_cardinality_guard(spark, tmp_path):
    base = spark.createDataFrame([(None, 1), (7, 2)], "id bigint, v bigint")
    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(base)
    mor.merge(
        spark.createDataFrame([(None, 99)], "id bigint, v bigint"),
        on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
        mode="merge-on-read",
    )
    assert _rows(mor.read()) == [(7, 2), (None, 99)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mor.merge(
            spark.createDataFrame([(7, 1), (7, 2)], "id bigint, v bigint"),
            on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
            mode="merge-on-read",
        )


def test_mor_equals_cow_randomized_sequences(spark, tmp_path):
    """Randomized merge sequences (update/delete/insert mixes, varying
    partition counts) applied to twin tables: content-identical at every
    step. Deterministic seed — a failure reproduces."""
    import random

    rng = random.Random(7)
    base_rows = [(i, rng.randrange(100)) for i in range(40)]
    cow, mor = _pair(
        spark,
        tmp_path,
        spark.createDataFrame(base_rows, "id bigint, v bigint"),
        partitions=3,
    )
    clause = MergeClause(
        matched_update={"v": "s.v"},
        matched_delete_condition="s.v < 0",
    )
    live = dict(base_rows)
    for step in range(4):
        batch = {}
        for _ in range(rng.randrange(3, 12)):
            key = rng.randrange(60)  # may or may not exist → update or insert
            batch[key] = rng.randrange(-20, 100)  # negatives delete
        src = spark.createDataFrame(
            sorted(batch.items()), "id bigint, v bigint"
        )
        _merge_both(cow, mor, src, ["id"], clause)
        for k, v in batch.items():
            if k in live and v < 0:
                live.pop(k)  # delete fires only on MATCHED rows...
            else:
                live[k] = v  # ...an unmatched negative still INSERTS
        want = sorted(live.items())
        assert _rows(mor.read()) == _rows(cow.read()) == want, f"step {step}"


def test_scd2_complex_mor_matches_golden_sequence(spark, tmp_path):
    """The golden SCD2 fixture sequence (full load + 3 CDC batches incl.
    the late arrival) applied through scd2_complex entirely in
    merge-on-read mode must land on the same hand-written expected
    table as the copy-on-write pipeline."""
    from iceberg_evaluation_spark.operators.scd2 import bulk_insert, scd2_complex
    from tests.test_scd2 import EXPECTED_U3, _actual, _df, TS

    mor = SnapshotTable(spark, str(tmp_path / "mor"))
    full = _df(
        spark,
        [("A", 1, TS("2022-01-01 00:00:00"), None),
         ("B", 1, TS("2022-01-01 00:00:00"), None)],
    )
    bulk_insert(mor, full)
    for rows in (
        [("A", 3, TS("2022-03-01 00:00:00"), "U")],
        [("C", 4, TS("2022-04-01 00:00:00"), "I")],
        [("A", 2, TS("2022-02-01 00:00:00"), "U")],  # late arrival
    ):
        scd2_complex(mor, _df(spark, rows), mode="merge-on-read")
    assert _actual(mor) == EXPECTED_U3
    # the whole history was maintained without a single file rewrite
    assert all(
        s["summary"].get("rewritten_files", 0) == 0
        for s in mor._snapshots()
        if s["operation"] == "merge"
    )


def test_drop_column_guarded_by_live_delete_keys(spark, tmp_path):
    """Dropping a column that keys live equality-delete files would make
    the read-side anti join unresolvable; compaction clears the way."""
    import pytest as _pytest

    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(spark.createDataFrame([(1, 10)], "id bigint, v bigint"))
    mor.merge(
        spark.createDataFrame([(1, 11)], "id bigint, v bigint"),
        on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
        mode="merge-on-read",
    )
    with _pytest.raises(ValueError):
        mor.drop_column("id")
    mor.compact(target_files=1)  # materializes the deletes
    mor.drop_column("id")
    assert mor.read().columns == ["v"]


def test_mor_compact_between_merges_interleaving(spark, tmp_path):
    """r3 verdict #8: compaction between MOR merges materializes deletes
    and re-sequences survivors; later merges' delete files must still
    kill exactly the pre-compaction images and never the post-compaction
    rewrites. COW twin is the oracle at every step."""
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "id bigint, v bigint"
    )
    cow, mor = _pair(spark, tmp_path, base, partitions=4)
    clause = MergeClause(matched_update={"v": "s.v"})

    u1 = spark.createDataFrame([(i, -1) for i in range(0, 50, 5)], "id bigint, v bigint")
    _merge_both(cow, mor, u1, ["id"], clause)
    assert _rows(mor.read()) == _rows(cow.read())

    mor.compact(target_files=2)  # deletes materialized, files re-sequenced
    assert mor._read_snapshot(mor.current_version())["delete_files"] == []
    assert _rows(mor.read()) == _rows(cow.read())

    # post-compaction MOR merge: its delete file's seq must kill the
    # COMPACTED rewrites (lower seq), not just original files
    u2 = spark.createDataFrame([(i, -2) for i in range(0, 50, 3)], "id bigint, v bigint")
    _merge_both(cow, mor, u2, ["id"], clause)
    assert _rows(mor.read()) == _rows(cow.read())

    # delete wave after the compaction boundary
    del_clause = MergeClause(
        matched_update=None, matched_delete_condition="true",
        insert_when_not_matched=False,
    )
    d = spark.createDataFrame([(i, 0) for i in range(0, 50, 10)], "id bigint, v bigint")
    _merge_both(cow, mor, d, ["id"], del_clause)
    assert _rows(mor.read()) == _rows(cow.read())

    # time travel across the compaction boundary still replays exactly
    assert _rows(mor.read(version=2)) != _rows(mor.read(version=1))
    assert len(_rows(mor.read(version=2))) == 50  # update wave, no loss


def test_mor_delete_then_reinsert_same_key(spark, tmp_path):
    """A key deleted at seq s and re-inserted at seq s' > s must SURVIVE
    the earlier equality-delete (strictly-lower kill rule) — twice."""
    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    cow, mor = _pair(spark, tmp_path, base, partitions=1)
    del_clause = MergeClause(
        matched_update=None, matched_delete_condition="true",
        insert_when_not_matched=False,
    )
    ins_clause = MergeClause(matched_update={"v": "s.v"})

    for round_v in (100, 200):
        d = spark.createDataFrame([(1, 0)], "id bigint, v bigint")
        _merge_both(cow, mor, d, ["id"], del_clause)
        assert _rows(mor.read()) == _rows(cow.read())
        assert all(r[0] != 1 for r in _rows(mor.read()))
        r = spark.createDataFrame([(1, round_v)], "id bigint, v bigint")
        _merge_both(cow, mor, r, ["id"], ins_clause)
        assert _rows(mor.read()) == _rows(cow.read())
        assert (1, round_v) in _rows(mor.read())
    # every intermediate version replays
    for ver in range(1, mor.current_version() + 1):
        assert _rows(mor.read(version=ver)) == _rows(cow.read(version=ver))


def test_mor_reader_honors_sequence_numbers(spark, tmp_path):
    """The seq-mutation red test: hand-lower a post-image file's sequence
    below its own commit's delete file and the post-image MUST be killed
    — proving the reader enforces strictly-lower-seq deletion rather
    than, say, path-set difference or commit order."""
    import json
    import os

    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    mor = SnapshotTable(spark, str(tmp_path / "m"))
    mor.create_or_replace(base, partitions=1)
    src = spark.createDataFrame([(1, 11)], "id bigint, v bigint")
    mor.merge(src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
              mode="merge-on-read")
    assert _rows(mor.read()) == [(1, 11), (2, 20)]

    snap_path = mor._snapshot_path(mor.current_version())
    with open(snap_path) as f:
        snap = json.load(f)
    # post-image file(s): committed at v2 (seq 2); the delete file killing
    # id=1 also carries seq 2 — post-image survives ONLY via seq equality
    assert snap["delete_files"] and snap["delete_files"][0]["seq"] == 2
    mutated = dict(snap)
    mutated["file_seqs"] = {
        rel: (1 if seq == 2 else seq) for rel, seq in snap["file_seqs"].items()
    }
    os.remove(snap_path)
    with open(snap_path, "w") as f:
        json.dump(mutated, f)
    # post-image now strictly lower than the delete seq → killed
    assert _rows(mor.read()) == [(2, 20)]
