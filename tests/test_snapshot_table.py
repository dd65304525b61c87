"""Snapshot table layer: CTAS/append/merge/time-travel/history/compaction
(the engine's re-expression of the reference's Iceberg surface), plus the
delete-aware employees pipeline from FIXTURES.md §2
(``create_dummy_deltas.py`` → notebook cell 26 MERGE → time travel →
compaction)."""

from __future__ import annotations

import time
from datetime import date

import pytest

from iceberg_evaluation_spark.operators.scd2 import dedup_latest, merge_delete_aware
from iceberg_evaluation_spark.tables.snapshot_table import MergeClause, SnapshotTable

EMP_SCHEMA = (
    "employee_id int, forename string, department_id int, manager_id int,"
    " record_deleted boolean, date_received date"
)


def test_create_append_history_timetravel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    v1 = t.create_or_replace(df1)
    v2 = t.append(spark.createDataFrame([(3, "c")], "id int, v string"))
    assert v1 == 1 and v2 == 2
    assert t.read().count() == 3
    assert t.read(version=1).count() == 2

    hist = {r["version"]: r["operation"] for r in t.history().collect()}
    assert hist == {1: "create_or_replace", 2: "append"}

    snap1_ts = [s for s in t._snapshots() if s["version"] == 1][0]["timestamp_ms"]
    assert t.read(as_of_timestamp_ms=snap1_ts).count() == 2


def test_merge_file_pruning(spark, tmp_path):
    """Untouched files must carry over by reference, not be rewritten."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
    t.create_or_replace(base.repartition(8, "id"), partitions=8)

    src = spark.createDataFrame([(5, -1), (700, -2)], "id long, v long")
    t.merge(src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
            mode="copy-on-write")

    snap = t._read_snapshot(t.current_version())
    assert snap["summary"]["carried_files"] > 0  # pruning actually happened
    assert snap["summary"]["rewritten_files"] < 8

    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got[5] == -1 and got[700] == -2 and got[6] == 12
    assert len(got) == 1000


def test_merge_cardinality_violation_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.createDataFrame([(1, "x")], "id int, v string"))
    dup_src = spark.createDataFrame([(1, "a"), (1, "b")], "id int, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(dup_src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}))


def test_compaction_binpack(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.range(0, 100).repartition(16), partitions=16)
    before = len(t._read_snapshot(t.current_version())["files"])
    t.compact(target_file_mb=128)
    after_snap = t._read_snapshot(t.current_version())
    assert len(after_snap["files"]) < before
    assert after_snap["operation"] == "rewrite_data_files"
    assert t.read().count() == 100


def test_expire_snapshots(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id int"))
    t.create_or_replace(spark.createDataFrame([(2,)], "id int"))
    t.create_or_replace(spark.createDataFrame([(3,)], "id int"))
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 2
    assert [r["id"] for r in t.read().collect()] == [3]
    assert len(t._snapshots()) == 1


def _emp(spark, rows):
    return spark.createDataFrame(rows, EMP_SCHEMA)


def test_employees_delete_aware_pipeline(spark, tmp_path):
    """FIXTURES.md §2: three daily delta batches through latest-record
    dedup + delete-aware MERGE, with time travel checks per day."""
    t = SnapshotTable(spark, str(tmp_path / "emp"))
    d1, d2, d3 = date(2023, 1, 1), date(2023, 1, 2), date(2023, 1, 3)

    day1 = _emp(
        spark,
        [(i, f"emp{i}", 1, 100, False, d1) for i in range(1, 6)],
    )
    t.create_or_replace(day1)
    day1_version = t.current_version()

    day2 = _emp(
        spark,
        [
            (5, "emp5", 2, 200, False, d2),  # corrected
            (6, "emp6", 1, 100, False, d2),  # new
            (7, "emp7", 1, 100, False, d2),  # new
        ],
    )
    merge_delete_aware(t, dedup_latest(day2, ["employee_id"], "date_received"),
                       keys=["employee_id"])
    got2 = {r["employee_id"]: r for r in t.read().collect()}
    assert set(got2) == {1, 2, 3, 4, 5, 6, 7}
    assert got2[5]["department_id"] == 2

    day3 = _emp(
        spark,
        [
            (1, "emp1", 1, 100, True, d3),  # deleted
            (7, "emp7", 2, 5, False, d3),
            (9, "emp9", 2, 5, False, d3),
            (10, "emp10", 2, 5, False, d3),
            (11, "emp11", 2, 5, False, d3),
        ],
    )
    merge_delete_aware(t, dedup_latest(day3, ["employee_id"], "date_received"),
                       keys=["employee_id"])
    got3 = {r["employee_id"]: r for r in t.read().collect()}
    assert 1 not in got3  # DELETE branch
    assert set(got3) == {2, 3, 4, 5, 6, 7, 9, 10, 11}
    assert got3[7]["department_id"] == 2 and got3[7]["manager_id"] == 5

    # time travel: day-1 state still readable
    assert t.read(version=day1_version).count() == 5

    # compaction preserves content
    t.compact()
    assert set(r["employee_id"] for r in t.read().collect()) == set(got3)


def test_drop_purge_removes_table(spark, tmp_path):
    # M9 destructive reset (ref pyspark_functions.py:348-355: DROP + S3
    # prefix delete) — purge removes data files, snapshots, and pointer
    import os

    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "drop_me"))
    t.create_or_replace(spark.range(100).toDF("id"))
    assert t.exists()
    t.drop(purge=True)
    assert not t.exists()
    assert not os.path.isdir(t.root)


def test_concurrent_commit_rejected(spark, tmp_path):
    # Iceberg-style optimistic concurrency: a merge computed against v1
    # must be REJECTED if another writer advanced the table meanwhile —
    # never silently clobber the interleaved snapshot
    import pytest as _pytest

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
        MergeClause,
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "occ"))
    t.create_or_replace(spark.range(10).toDF("id"))

    # simulate an interleaved writer by advancing the version between a
    # merge's read (patched to capture) and its commit: easiest faithful
    # simulation is committing through a SECOND handle first, then
    # replaying a merge whose base was the old version via the low-level
    # API
    other = SnapshotTable(spark, t.root)
    base = t.current_version()
    other.append(spark.range(10, 15).toDF("id"))  # interleaved commit
    with _pytest.raises(ConcurrentCommitError):
        t._commit([], "merge", {}, t._read_snapshot(base)["schema"],
                  expected_version=base)
    # and a fresh merge against current state still succeeds
    src = spark.range(3).toDF("id")
    t.merge(src, ["id"], MergeClause(matched_update={"id": "s.id"}))
    assert t.current_version() == base + 2


def test_merge_null_key_prunes_and_updates(spark, tmp_path):
    """File pruning must use the same eqNullSafe key semantics as the row
    merge: a target row with a NULL merge key must have its file rewritten
    (regression: null-rejecting semi-join carried the stale row AND inserted
    the source row as NOT MATCHED, duplicating the key)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(1, "a"), (None, "b")], "id int, v string")
    )
    src = spark.createDataFrame([(None, "B")], "id int, v string")
    t.merge(src, on=["id"], clause=MergeClause(matched_update={"v": "s.v"}))
    rows = sorted(
        ((r["id"], r["v"]) for r in t.read().collect()),
        key=lambda x: (x[0] is None, x[0]),
    )
    assert rows == [(1, "a"), (None, "B")]  # updated in place, no duplicate


def test_compaction_zorder_clusters_files(spark, tmp_path):
    """Z-order rewrite must (a) preserve content exactly and (b) give
    each output file a tight bounding box over BOTH zorder columns —
    the property that makes single-column predicates on either column
    prune files. Compared against binpack of the same data into the
    same file count."""
    import itertools

    from pyspark.sql import functions as F

    rows = [(i, float(i % 97), float((i * 31) % 89)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    def bbox_area_frac(table):
        snap = table._read_snapshot(table.current_version())
        areas = []
        for rel in snap["files"]:
            f = spark.read.parquet(f"{table.root}/{rel}")
            r = f.agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y")
            ).collect()[0]
            areas.append(((r[1] - r[0]) / 96.0) * ((r[3] - r[2]) / 88.0))
        return sum(areas) / len(areas)

    tz = SnapshotTable(spark, str(tmp_path / "tz"))
    tz.create_or_replace(df, partitions=8)
    tz.compact(strategy="zorder", zorder_by=["x", "y"], target_files=16)
    tb = SnapshotTable(spark, str(tmp_path / "tb"))
    tb.create_or_replace(df, partitions=8)
    tb.compact(target_files=16)

    # content identical to source under both strategies
    for t in (tz, tb):
        assert t.read().exceptAll(df).count() == 0
        assert df.exceptAll(t.read()).count() == 0
    # hash-partitioned binpack files span ~the full (x, y) space; z-order
    # files must cover a far smaller average bounding box
    frac_z, frac_b = bbox_area_frac(tz), bbox_area_frac(tb)
    assert frac_b > 0.8, f"binpack baseline unexpectedly clustered: {frac_b}"
    assert frac_z < 0.35 * frac_b, f"zorder {frac_z} vs binpack {frac_b}"
    # summary records the layout operation
    hist = tz.history().filter("operation = 'rewrite_data_files'").collect()
    assert any("zorder" in str(r["summary"]) for r in hist)


def test_incremental_append_scan(spark, tmp_path):
    """read_incremental must return exactly the rows added in the range,
    skip content-neutral snapshots, and reject overwrite ranges."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id int, v string"
    )
    t.create_or_replace(mk(0, 10))        # v1
    t.append(mk(10, 20))                  # v2
    t.append(mk(20, 25))                  # v3
    t.compact(target_files=1)             # v4 (content-neutral)
    t.append(mk(25, 30))                  # v5

    inc = t.read_incremental(1, 3)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 25))
    # compaction inside the range contributes nothing
    inc2 = t.read_incremental(2)          # (2, current]: v3 + v5 rows
    assert sorted(r["id"] for r in inc2.collect()) == list(range(20, 30))
    # overwrite-class snapshots refuse incremental semantics
    t.create_or_replace(mk(0, 5))         # v6
    with pytest.raises(ValueError, match="append-only"):
        t.read_incremental(1)


def test_schema_evolution_add_drop(spark, tmp_path):
    """add_column/drop_column are metadata-only; old files read as NULL
    in added columns, dropped columns vanish from reads but survive in
    time travel."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    )                                      # v1
    t.add_column("score", "double")        # v2 (metadata only)
    assert t.read().columns == ["id", "v", "score"]
    assert all(r["score"] is None for r in t.read().collect())

    # appends may omit the new column (NULL-filled) or carry it
    t.append(spark.createDataFrame([(3, "c")], "id int, v string"))       # v3
    t.append(
        spark.createDataFrame([(4, "d", 0.5)], "id int, v string, score double")
    )                                      # v4
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: None, 4: 0.5}

    # unknown columns are rejected, never silently added
    with pytest.raises(ValueError, match="add_column first"):
        t.append(spark.createDataFrame([(5, "e", 1)], "id int, v string, bogus int"))

    # incremental scan across the evolution applies the target schema
    inc = t.read_incremental(2, 4)
    assert {r["id"]: r["score"] for r in inc.collect()} == {3: None, 4: 0.5}

    t.drop_column("v")                     # v5
    assert t.read().columns == ["id", "score"]
    # time travel still sees the pre-drop schema and values
    assert t.read(version=1).columns == ["id", "v"]
    assert {r["v"] for r in t.read(version=1).collect()} == {"a", "b"}


def test_rollback_and_orphan_cleanup(spark, tmp_path):
    """rollback() restores an old file set as a NEW snapshot (history
    preserved); remove_orphan_files() deletes only unreferenced files."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1,), (2,)], "id int")
    t.create_or_replace(df1)                                    # v1
    t.append(spark.createDataFrame([(3,)], "id int"))           # v2
    assert t.read().count() == 3

    v3 = t.rollback(1)                                          # v3 = v1 files
    assert v3 == 3 and t.read().count() == 2
    assert t.read(version=2).count() == 3  # history intact
    # a rollback is overwrite-class for incremental consumers
    with pytest.raises(ValueError, match="append-only"):
        t.read_incremental(1)

    # plant an orphan (aborted write) and a referenced file check
    orphan_dir = os.path.join(t.root, "data", "commit-deadbeef")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    n_before = t.read().count()
    # default grace period protects just-written files (they could be an
    # in-flight writer's uncommitted output) — the fresh orphan survives
    assert t.remove_orphan_files() == 0
    assert os.path.exists(orphan_dir)
    # an explicit future cutoff (no live writers) removes it
    future_ms = int(time.time() * 1000) + 60_000
    assert t.remove_orphan_files(older_than_ms=future_ms) == 1
    assert not os.path.exists(orphan_dir)
    assert t.read().count() == n_before          # referenced files untouched
    assert t.read(version=2).count() == 3        # all snapshots still readable


def test_add_column_rejects_name_resurrection(spark, tmp_path):
    """Re-adding a dropped column name while files from the old era are
    still live must fail: name-mapped reads would resurrect the stale
    bytes instead of NULL. After a full rewrite (compact) the name is
    free again and old rows correctly read NULL."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, score double")
    )
    t.drop_column("score")
    with pytest.raises(ValueError, match="resurrect"):
        t.add_column("score", "double")
    # a rewrite replaces every live file; the name becomes safe
    t.compact(target_files=1)
    t.add_column("score", "double")
    assert {r["score"] for r in t.read().collect()} == {None}


def test_append_rejects_lossy_cast(spark, tmp_path):
    """An append frame whose column type cannot safely widen to the table
    type must raise instead of silently writing NULLs (string→int) or
    truncating (double→int)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.createDataFrame([(1, 5)], "id int, n int"))
    with pytest.raises(ValueError, match="cast explicitly"):
        t.append(spark.createDataFrame([(2, "oops")], "id int, n string"))
    with pytest.raises(ValueError, match="cast explicitly"):
        t.append(spark.createDataFrame([(2, 1.5)], "id int, n double"))
    # safe widening is allowed: int column data into a long table column
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.create_or_replace(spark.createDataFrame([(1, 5)], "id int, n long"))
    t2.append(spark.createDataFrame([(2, 7)], "id int, n int"))
    assert {r["n"] for r in t2.read().collect()} == {5, 7}


def test_append_concurrent_commit_rejected(spark, tmp_path):
    """Two writers appending from the same base version: the second
    commit must be rejected (it would silently drop the interleaved
    writer's files from the published file union)."""
    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    root = str(tmp_path / "t")
    a = SnapshotTable(spark, root)
    a.create_or_replace(spark.range(5).toDF("id"))

    # writer B lands an append while writer A's append is "in flight";
    # simulate by pre-computing A's base then letting B commit first
    orig_commit = SnapshotTable._commit
    b = SnapshotTable(spark, root)

    interleaved = {"done": False}

    def racing_commit(self, files, operation, summary, schema_json,
                      expected_version=None, **kwargs):
        if not interleaved["done"] and operation == "append":
            interleaved["done"] = True
            b.append(spark.range(10, 15).toDF("id"))
        return orig_commit(self, files, operation, summary, schema_json,
                           expected_version, **kwargs)

    SnapshotTable._commit = racing_commit
    try:
        with pytest.raises(ConcurrentCommitError):
            a.append(spark.range(5, 10).toDF("id"))
    finally:
        SnapshotTable._commit = orig_commit
    # B's rows are intact; A's rejected append added nothing
    assert sorted(r["id"] for r in b.read().collect()) == list(range(5)) + list(
        range(10, 15)
    )


def test_zorder_bit_budget_auto_reduces(spark, tmp_path):
    """bits*cols > 63 must not wrap into the sign bit: 5 columns at the
    default 16 bits auto-reduce to 12 bits/column and still cluster."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(1000).selectExpr(
        "id", "id % 7 AS a", "id % 11 AS b", "id % 13 AS c", "id % 17 AS d"
    )
    t.create_or_replace(df, partitions=8)
    t.compact(strategy="zorder", zorder_by=["id", "a", "b", "c", "d"], target_files=4)
    assert t.read().count() == 1000
    # Z-values must be non-negative for every row (no sign-bit flip)
    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable as ST

    z = ST._zvalue(t.read(), ["id", "a", "b", "c", "d"], 16)
    assert t.read().select(z.alias("z")).filter("z < 0").count() == 0


def test_merge_after_schema_evolution(spark, tmp_path):
    """MERGE against a table whose schema evolved must treat missing
    source columns as NULL on insert and keep target values on update
    (the Iceberg writer contract the append path also follows)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    )
    t.add_column("score", "double")
    # source predates the evolution: no 'score' column
    src = spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string")
    t.merge(
        src,
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
    )
    got = {r["id"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", None), 3: ("c", None)}


def test_files_metadata_matches_footers(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "filesmeta"))
    t.create_or_replace(spark.range(100).select(F.col("id")), partitions=4)  # v1
    t.append(spark.range(100, 150).select(F.col("id")))                      # v2
    fm = t.files_metadata().collect()
    assert sum(r["record_count"] for r in fm) == 150
    assert len(fm) == len(set(r["file"] for r in fm))
    assert all(r["file_size_bytes"] > 0 and r["n_row_groups"] >= 1 for r in fm)
    # v1 files tagged 1, appended files tagged 2; time travel sees only v1
    assert {r["added_in_version"] for r in fm} == {1, 2}
    fm1 = t.files_metadata(version=1).collect()
    assert sum(r["record_count"] for r in fm1) == 100
    assert all(r["added_in_version"] == 1 for r in fm1)


def test_read_where_exact_and_prunes_after_zorder(spark, tmp_path):
    """Stats-pruned scan: (a) result == full scan + filter for every
    supported op, on both clustered and unclustered layouts; (b) after a
    Z-order rewrite on the filter columns a tight predicate opens a
    strict subset of the files."""
    from pyspark.sql import functions as F

    rows = [(i, float(i % 97), float((i * 31) % 89)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    t = SnapshotTable(spark, str(tmp_path / "rw"))
    t.create_or_replace(df, partitions=8)

    cases = [
        [("x", "=", 5.0)],
        [("x", "<", 3.0)],
        [("x", ">=", 90.0), ("y", "<=", 10.0)],
        [("x", "between", (10.0, 12.0))],
        [("id", ">", 19990)],
    ]

    def check_exact(table):
        for filters in cases:
            got = sorted(map(tuple, table.read_where(filters).collect()))
            cond = F.lit(True)
            for col, op, val in filters:
                c = F.col(col)
                cond = cond & (
                    c.between(*val) if op == "between"
                    else c == val if op == "="
                    else c < val if op == "<"
                    else c <= val if op == "<="
                    else c > val if op == ">"
                    else c >= val
                )
            want = sorted(map(tuple, table.read().filter(cond).collect()))
            assert got == want, filters

    check_exact(t)  # unclustered: correct, possibly unpruned

    t.compact(strategy="zorder", zorder_by=["x", "y"], target_files=16)
    check_exact(t)

    n_total = len(t._read_snapshot(t.current_version())["files"])
    # count files the pruner keeps for a tight x predicate
    import pyarrow.parquet as pq
    import os as _os

    snap = t._read_snapshot(t.current_version())
    kept = 0
    for rel in snap["files"]:
        meta = pq.read_metadata(_os.path.join(t.root, rel))
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}["x"]
        mns = [meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups)]
        mxs = [meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups)]
        if min(mns) <= 3.0 and max(mxs) >= 3.0:
            kept += 1
    assert kept < n_total  # the zorder layout makes x=3.0 prunable


def test_read_where_conservative_on_evolved_schema(spark, tmp_path):
    """Files written before add_column lack the column: read_where on the
    new column must keep them (they read NULL, never matching) without
    crashing, and must equal the row-level filter."""
    t = SnapshotTable(spark, str(tmp_path / "ev"))
    t.create_or_replace(spark.createDataFrame([(1,), (2,)], "id long"))
    t.add_column("v", "long")
    t.append(spark.createDataFrame([(3, 30), (4, 40)], "id long, v long"))
    got = sorted(r["id"] for r in t.read_where([("v", ">=", 40)]).collect())
    assert got == [4]


def test_read_where_rejects_unknown_op(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "op"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_where([("id", "!=", 1)])


def test_merge_touches_special_char_partition_files(spark, tmp_path):
    """_metadata.file_path is URL-encoded; touched-file detection must
    unquote it or files under 'k=a b' are never rewritten — stale rows
    retained AND the source row re-inserted (duplicates)."""
    from iceberg_evaluation_spark.tables.snapshot_table import MergeClause

    t = SnapshotTable(spark, str(tmp_path / "sp"))
    df = spark.createDataFrame(
        [(1, "a b", 10), (2, "x=y", 20)], "id long, k string, v long"
    )
    t.create_or_replace(df, partitions=1, partition_by=["k"])
    t.merge(
        spark.createDataFrame([(1, "a b", 11)], "id long, k string, v long"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
    )
    rows = sorted(map(tuple, t.read().collect()))
    assert rows == [(1, "a b", 11), (2, "x=y", 20)]  # updated, NO duplicate


def test_add_column_resurrection_guard_survives_expiry(spark, tmp_path):
    """drop_column → expire_snapshots (history gone) → add_column of the
    same name must STILL refuse while pre-drop bytes are live."""
    t = SnapshotTable(spark, str(tmp_path / "ex"))
    t.create_or_replace(spark.createDataFrame([(1, 5)], "id long, x long"))
    t.drop_column("x")
    t.expire_snapshots(keep_last=1)  # v1 manifest (with x) is gone
    with pytest.raises(ValueError):
        t.add_column("x", "long")
    t.compact(target_files=1)  # rewrites under the x-less schema
    t.add_column("x", "long")  # now legal
    assert t.read().collect()[0]["x"] is None


def test_commit_exclusive_against_preexisting_snapshot(spark, tmp_path):
    """The manifest publish is an exclusive link: if the next version's
    snapshot file already exists (a concurrent winner), the commit
    raises instead of clobbering it."""
    import os

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    t = SnapshotTable(spark, str(tmp_path / "cc"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    # fake a concurrent winner's manifest for v2 WITHOUT advancing VERSION
    with open(os.path.join(t.root, "snapshots", "v00000002.json"), "w") as f:
        f.write("{}")
    with pytest.raises(ConcurrentCommitError):
        t.append(spark.createDataFrame([(2,)], "id long"))


def test_append_refuses_lossy_int_to_float(spark, tmp_path):
    """long→float/double silently rounds past 2^24/2^53 — append must
    refuse it like any other lossy cast."""
    t = SnapshotTable(spark, str(tmp_path / "lf"))
    t.create_or_replace(spark.createDataFrame([(1, 1.5)], "id long, v float"))
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(2, 16777217)], "id long, v long"))


def test_orphan_cleanup_reaches_partitioned_commits(spark, tmp_path):
    """Unreferenced files under k=v subdirectories must be collected."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "op"))
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, k string, v long")
    t.create_or_replace(df, partitions=1, partition_by=["k"])
    # simulate a crashed partitioned write: files exist, no commit
    orphan_rels = t._write_files(df, partition_by=["k"])
    assert all("k=" in r for r in orphan_rels)
    removed = t.remove_orphan_files(older_than_ms=2**62)
    assert removed >= len(orphan_rels)
    for rel in orphan_rels:
        assert not os.path.exists(os.path.join(t.root, rel))
    # referenced files untouched, table still reads
    assert t.read().count() == 2


def test_merge_key_named_count(spark, tmp_path):
    """A merge key literally named 'count' must not trip the duplicate
    validation's aggregate."""
    from iceberg_evaluation_spark.tables.snapshot_table import MergeClause

    t = SnapshotTable(spark, str(tmp_path / "cnt"))
    t.create_or_replace(spark.createDataFrame([(1, 10)], "count long, v long"))
    t.merge(
        spark.createDataFrame([(1, 11)], "count long, v long"),
        on=["count"],
        clause=MergeClause(matched_update={"v": "s.v"}),
    )
    assert t.read().collect()[0]["v"] == 11


def test_commit_self_heals_orphan_manifest(spark, tmp_path):
    """ADVICE r3: a crash between the manifest link and the VERSION flip
    orphans a COMPLETED v(N+1) manifest while VERSION reads N. The next
    commit must adopt the orphan (advance the pointer) and raise
    ConcurrentCommitError ONCE — a retry on fresh state then succeeds —
    instead of hitting FileExistsError forever."""
    import json
    import os
    import shutil

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    t = SnapshotTable(spark, str(tmp_path / "heal"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    # simulate the crashed committer: a COMPLETE v2 manifest (clone v1's
    # and bump the version) with VERSION still at 1
    snap_dir = os.path.join(t.root, "snapshots")
    with open(os.path.join(snap_dir, "v00000001.json")) as f:
        snap = json.load(f)
    snap["version"] = 2
    with open(os.path.join(snap_dir, "v00000002.json"), "w") as f:
        json.dump(snap, f)
    assert t.current_version() == 1

    with pytest.raises(ConcurrentCommitError):
        t.append(spark.createDataFrame([(2,)], "id long"))
    # the orphan was adopted: pointer advanced, table readable
    assert t.current_version() == 2
    assert t.read().count() == 1
    # retry on fresh state succeeds (v3), no permanent wedge
    t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.current_version() == 3
    assert t.read().count() == 2
    # and a THIRD append works without any ConcurrentCommitError at all
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert t.read().count() == 3


def test_commit_quarantines_corrupt_orphan(spark, tmp_path):
    """An incomplete/corrupt manifest at the next version (crash mid-write
    fabrication, or the pre-existing-snapshot race test's '{}') is
    quarantined — the retry can claim the version number."""
    import os

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    t = SnapshotTable(spark, str(tmp_path / "quar"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    bad = os.path.join(t.root, "snapshots", "v00000002.json")
    with open(bad, "w") as f:
        f.write("{}")
    with pytest.raises(ConcurrentCommitError):
        t.append(spark.createDataFrame([(2,)], "id long"))
    assert os.path.exists(bad + ".orphan")
    assert t.current_version() == 1  # '{}' was NOT adopted
    t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.current_version() == 2
    assert t.read().count() == 2


def test_read_where_decimal_partition_beyond_double(spark, tmp_path):
    """ADVICE r3: decimal partition values past double precision must not
    be float-parsed — 2^60+1 and 2^60+2 collapse to the same double, so
    an '=' filter parsed via float() could wrongly prune the file that
    holds the matching rows (silent row loss)."""
    from decimal import Decimal

    big = 2**60 + 1  # float(big) == float(big+1): not double-representable
    df = spark.createDataFrame(
        [(1, Decimal(big)), (2, Decimal(big + 1))],
        "id long, d decimal(38,0)",
    )
    t = SnapshotTable(spark, str(tmp_path / "decpart"))
    t.create_or_replace(df, partition_by=["d"])
    got = sorted(
        r["id"] for r in t.read_where([("d", "=", Decimal(big))]).collect()
    )
    assert got == [1]
    got2 = sorted(
        r["id"] for r in t.read_where([("d", "=", Decimal(big + 1))]).collect()
    )
    assert got2 == [2]


def test_materialized_rollup_incremental_equals_full(spark, tmp_path):
    """Rollup folded over appends must equal the from-scratch aggregate,
    refresh must cost only the delta, and overwrite-class base snapshots
    must raise (rebuild recovers) — Iceberg's incremental-scan contract
    surfaced, not silently wrong."""
    import pytest as _pytest

    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    def rows(k0, k1):
        return [(i, "g%d" % (i % 3), i * 10) for i in range(k0, k1)]

    base = SnapshotTable(spark, str(tmp_path / "base"))
    base.create_or_replace(
        spark.createDataFrame(rows(0, 50), "id long, g string, v long")
    )
    roll = MaterializedRollup(
        spark, str(tmp_path / "roll"), base, group_cols=["g"], sum_cols=["v"]
    )
    roll.rebuild()

    def check():
        got = sorted(
            (r["g"], r["n_rows"], r["sum_v"]) for r in roll.read().collect()
        )
        from pyspark.sql import functions as F

        exp = sorted(
            (r["g"], r["n"], r["s"])
            for r in base.read()
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        )
        assert got == exp

    check()
    base.append(spark.createDataFrame(rows(50, 80), "id long, g string, v long"))
    n = roll.refresh()
    assert n == 30  # delta rows only
    check()
    assert roll.refresh() == 0  # up to date
    # a new group appearing only in the delta inserts
    base.append(
        spark.createDataFrame([(1000, "brand_new", 7)], "id long, g string, v long")
    )
    assert roll.refresh() == 1
    assert ("brand_new", 1, 7) in {
        (r["g"], r["n_rows"], r["sum_v"]) for r in roll.read().collect()
    }
    # overwrite-class snapshot: refresh refuses, rebuild recovers
    base.merge(
        spark.createDataFrame([(0, "g0", 999)], "id long, g string, v long"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
    )
    with _pytest.raises(ValueError, match="append-only"):
        roll.refresh()
    roll.rebuild()
    check()


def test_late_winner_flip_cannot_regress_version(spark, tmp_path):
    """ADVICE r4 (medium): the EEXIST self-heal lets a LOSER adopt an
    orphaned v(N) manifest, retry, and commit v(N+1) while the original
    v(N) winner is still between its manifest link and its pointer flip.
    The winner's late flip must NOT regress VERSION from N+1 back to N."""
    import json
    import os

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    t = SnapshotTable(spark, str(tmp_path / "leap"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    # winner W: linked a COMPLETE v2 manifest, pre-empted before its flip
    snap_dir = os.path.join(t.root, "snapshots")
    with open(os.path.join(snap_dir, "v00000001.json")) as f:
        snap = json.load(f)
    snap["version"] = 2
    with open(os.path.join(snap_dir, "v00000002.json"), "w") as f:
        json.dump(snap, f)
    # loser L: hits EEXIST at v2, adopts W's manifest (flips to 2), then
    # retries on fresh state and commits v3
    with pytest.raises(ConcurrentCommitError):
        t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.current_version() == 2
    t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.current_version() == 3
    # W resumes and performs its (now late) pointer flip for v2: the
    # monotonic guard must make it a no-op, not a regression to 2
    t._flip_version_monotonic(2)
    assert t.current_version() == 3
    assert t.read().count() == 2
    # and a genuinely-forward flip still advances (sanity of the guard)
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert t.current_version() == 4


def test_flip_version_steals_stale_lock(spark, tmp_path):
    """A crashed holder's abandoned VERSION lock must be stolen, not
    wedge every later commit."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "lock"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    lock = t._version_file() + ".lock"
    with open(lock, "w"):
        pass
    old = time.time() - 60
    os.utime(lock, (old, old))  # make the abandoned lock look 60s old
    t.append(spark.createDataFrame([(2,)], "id long"))  # steals + commits
    assert t.current_version() == 2
    assert not os.path.exists(lock)


def test_stolen_while_alive_holder_cannot_regress_pointer(spark, tmp_path):
    """r5 VERDICT #7 / ADVICE (medium): a holder that stalls past the
    2 s steal window (GC pause / NFS hang) while still alive must NOT
    re-enter the critical section after being stolen from. The
    ownership token makes its post-stall pass detect the steal and
    retry; without the verify-before-flip, its buffered LOWER version
    would overwrite the stealer's HIGHER one (pointer regression).
    Red if SnapshotTable._holds_lock is stubbed to always-True."""
    import os
    import threading

    t_holder = SnapshotTable(spark, str(tmp_path / "steal"))
    t_holder.create_or_replace(spark.createDataFrame([(1,)], "id long"))
    t_rival = SnapshotTable(spark, t_holder.root)
    lock = t_holder._version_file() + ".lock"
    # plant completed manifests for the versions the two writers flip
    # to — the flip path (r6 ADVICE) refuses a flip whose manifest is
    # missing, so a bare pointer flip needs real targets
    import json

    for v in (2, 3):
        snap = dict(t_holder._read_snapshot(1))
        snap["version"] = v
        with open(t_holder._snapshot_path(v), "w") as f:
            json.dump(snap, f)

    real_check = SnapshotTable._holds_lock
    stalled = threading.Event()

    def stall_once(lck, token, _seen=[]):
        # holder's first ownership verify (staged pointer written, flip
        # pending): simulate a 2.5 s GC pause right before the check
        if not _seen:
            _seen.append(1)
            stalled.set()
            time.sleep(2.5)
        return real_check(lck, token)

    t_holder._holds_lock = stall_once  # instance override, holder only
    errs = []

    def late_flip_to_2():
        try:
            t_holder._flip_version_monotonic(2)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    w = threading.Thread(target=late_flip_to_2)
    w.start()
    assert stalled.wait(5.0)
    # rival steals the (now stale-looking) lock and flips FORWARD to 3
    t_rival._flip_version_monotonic(3)
    w.join(20.0)
    assert not w.is_alive() and not errs
    # holder's late 2 must have been swallowed by retry + monotonic guard
    assert t_holder.current_version() == 3
    assert not os.path.exists(lock)  # no leaked lock from either writer


def test_holder_release_cannot_delete_rivals_fresh_lock(tmp_path):
    """The release path removes the lock only while it still holds OUR
    token: a stolen-from holder's late cleanup must leave a rival's
    fresh lock in place (the old unconditional os.remove deleted it)."""
    import os

    lock = str(tmp_path / "VERSION.lock")
    with open(lock, "w") as f:
        f.write("rival-token")
    assert not SnapshotTable._holds_lock(lock, "holder-token")
    assert SnapshotTable._holds_lock(lock, "rival-token")
    # the finally-block contract: no ownership -> no removal
    if SnapshotTable._holds_lock(lock, "holder-token"):
        os.remove(lock)
    assert os.path.exists(lock)


def test_true_concurrent_appends_all_land(spark, tmp_path):
    """REAL multi-threaded writers (not simulated interleaves): 8
    threads append disjoint ranges with the client-side retry loop the
    optimistic-concurrency model prescribes. Every append must land
    exactly once — no dropped files, no duplicate rows, no pointer
    regression, no leaked VERSION lock — exercising the r6 ownership-
    token lock under genuine contention."""
    import os
    import threading

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    root = str(tmp_path / "stress")
    SnapshotTable(spark, root).create_or_replace(spark.range(5).toDF("id"))
    errs = []

    def writer(k: int) -> None:
        t = SnapshotTable(spark, root)
        lo = 100 + k * 10
        for attempt in range(30):
            try:
                t.append(spark.range(lo, lo + 5).toDF("id"))
                return
            except ConcurrentCommitError:
                continue  # recompute against the new current version
            except Exception as e:  # pragma: no cover
                errs.append((k, e))
                return
        errs.append((k, "retries exhausted"))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errs, errs
    t = SnapshotTable(spark, root)
    assert t.current_version() == 9  # create + 8 appends, no leapfrogs lost
    rows = sorted(r["id"] for r in t.read().collect())
    assert rows == sorted(
        list(range(5)) + [100 + k * 10 + i for k in range(8) for i in range(5)]
    )
    assert not os.path.exists(t._version_file() + ".lock")
    assert t.history().count() == 9


def test_rollup_cdf_refresh_handles_updates_deletes_and_group_moves(
    spark, tmp_path
):
    """refresh_cdf folds overwrite-class windows through the changelog:
    an update moving a row across groups debits/credits both, a delete
    retracts, an emptied group leaves the rollup, and the result always
    equals a from-scratch rebuild of the same base state."""
    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    base = SnapshotTable(spark, str(tmp_path / "base"))
    base.create_or_replace(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
            "id bigint, grp string, v bigint",
        )
    )
    r = MaterializedRollup(
        spark, str(tmp_path / "roll"), base, ["grp"], ["v"]
    )
    r.rebuild()

    def rollup_rows():
        return {
            row["grp"]: (row["n_rows"], row["sum_v"])
            for row in r.table.read().collect()
        }

    # wave 1 (COW): value update + cross-group move + insert
    base.merge(
        spark.createDataFrame(
            [(1, "a", 11), (3, "a", 30), (9, "d", 90)],
            "id bigint, grp string, v bigint",
        ),
        on=["id"],
        clause=MergeClause(matched_update={"grp": "s.grp", "v": "s.v"}),
    )
    n = r.refresh_cdf(["id"])
    assert n == 1 + 2 * 2  # 1 insert + 2 updates x (pre+post images)
    assert rollup_rows() == {"a": (3, 61), "c": (1, 40), "d": (1, 90)}
    # (group b emptied by the move -> deleted from the rollup)

    # wave 2 (MOR): delete the last row of group c + update within a
    base.merge(
        spark.createDataFrame(
            [(4, "c", 0), (2, "a", 25)], "id bigint, grp string, v bigint"
        ),
        on=["id"],
        clause=MergeClause(
            matched_delete_condition="s.v = 0",
            matched_update={"v": "s.v"},
        ),
        mode="merge-on-read",
    )
    r.refresh_cdf(["id"])
    got = rollup_rows()
    assert got == {"a": (3, 66), "d": (1, 90)}

    # ground truth: identical to a from-scratch rebuild
    r2 = MaterializedRollup(
        spark, str(tmp_path / "roll2"), base, ["grp"], ["v"]
    )
    r2.rebuild()
    exp = {
        row["grp"]: (row["n_rows"], row["sum_v"])
        for row in r2.table.read().collect()
    }
    assert got == exp

    # plain appends still fold through refresh_cdf too (inserts only)
    base.append(
        spark.createDataFrame([(20, "b", 5)], "id bigint, grp string, v bigint")
    )
    r.refresh_cdf(["id"])
    assert rollup_rows()["b"] == (1, 5)

    # no-op window returns 0
    assert r.refresh_cdf(["id"]) == 0


def test_rollup_sketch_columns_merge_and_cdf_group_scoped(spark, tmp_path):
    """HLL sketch columns union across append refreshes (estimate equals
    the exact distinct at toy scale); refresh_cdf maintains them
    GROUP-SCOPED (r7): an update window touching only one group
    re-sketches that group from the base — retracting a distinct value
    a union could never retract — while the untouched group's stored
    sketch bytes stay identical."""
    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    base = SnapshotTable(spark, str(tmp_path / "b"))
    base.create_or_replace(
        spark.createDataFrame(
            [(i, "g%d" % (i % 2), i % 10) for i in range(40)],
            "id bigint, grp string, u bigint",
        )
    )
    r = MaterializedRollup(
        spark, str(tmp_path / "r"), base, ["grp"], [],
        approx_distinct_cols=["u"],
    )
    r.rebuild()
    # delta introduces NEW distinct values 10..19 into one group only
    base.append(
        spark.createDataFrame(
            [(100 + i, "g0", 10 + i) for i in range(10)],
            "id bigint, grp string, u bigint",
        )
    )
    r.refresh()
    got = {
        row["grp"]: row["approx_distinct_u"] for row in r.read().collect()
    }
    # g0 saw even u in 0..9 (5 values) + all of 10..19; g1 odd u only
    assert got == {"g0": 15, "g1": 5}  # exact at this cardinality

    # update-heavy window touching ONLY g0: id=100 (g0's sole holder of
    # u=10) moves to an existing value — g0's distinct count RETRACTS
    # from 15 to 14, which a sketch union cannot express
    sketch_before = {
        row["grp"]: bytes(row["hll_u"]) for row in r.table.read().collect()
    }
    base.merge(
        spark.createDataFrame(
            [(100, "g0", 11)], "id bigint, grp string, u bigint"
        ),
        on=["id"],
        clause=MergeClause(matched_update={"u": "s.u"}),
    )
    n = r.refresh_cdf(["id"])
    assert n == 2  # one update = pre + post images
    got = {
        row["grp"]: row["approx_distinct_u"] for row in r.read().collect()
    }
    assert got == {"g0": 14, "g1": 5}
    sketch_after = {
        row["grp"]: bytes(row["hll_u"]) for row in r.table.read().collect()
    }
    # untouched group's sketch was not recomputed (byte-identical)
    assert sketch_after["g1"] == sketch_before["g1"]
    assert sketch_after["g0"] != sketch_before["g0"]

    # counts/sums stay retract/apply-consistent alongside: whole rollup
    # equals a from-scratch rebuild
    r2 = MaterializedRollup(
        spark, str(tmp_path / "r2"), base, ["grp"], [],
        approx_distinct_cols=["u"],
    )
    r2.rebuild()
    exp = {
        (row["grp"], row["n_rows"], row["approx_distinct_u"])
        for row in r2.read().collect()
    }
    assert {
        (row["grp"], row["n_rows"], row["approx_distinct_u"])
        for row in r.read().collect()
    } == exp


def test_tags_pin_read_and_survive_expiry(spark, tmp_path):
    """Tags are immutable named refs and GC roots: expire_snapshots
    keeps a tagged snapshot (and its files) however old; dropping the
    tag releases it at the next expiry."""
    import os as _os

    t = SnapshotTable(spark, str(tmp_path / "tags"))
    t.create_or_replace(spark.createDataFrame([(1,)], "id int"))      # v1
    t.append(spark.createDataFrame([(2,)], "id int"))                 # v2
    t.create_tag("baseline")  # pins current (v2)
    t.create_or_replace(spark.createDataFrame([(9,)], "id int"))      # v3
    t.append(spark.createDataFrame([(10,)], "id int"))                # v4

    assert t.tags() == {"baseline": 2}
    assert sorted(r["id"] for r in t.read_tag("baseline").collect()) == [1, 2]

    t.expire_snapshots(keep_last=1)
    # v4 kept (last), v2 kept (tagged), v1/v3 expired
    versions = {s["version"] for s in t._snapshots()}
    assert versions == {2, 4}
    assert sorted(r["id"] for r in t.read_tag("baseline").collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read().collect()) == [9, 10]

    # immutability + validation
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("baseline")
    with pytest.raises(ValueError, match="no snapshot"):
        t.create_tag("ghost", version=99)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.create_tag("a/b")

    # dropping the tag releases the pinned snapshot at next expiry
    t.drop_tag("baseline")
    t.expire_snapshots(keep_last=1)
    assert {s["version"] for s in t._snapshots()} == {4}
    with pytest.raises(ValueError, match="does not exist"):
        t.read_tag("baseline")


def test_read_incremental_crosses_spec_evolution(spark, tmp_path):
    """Review fix: set_partition_spec is content-neutral (same file
    set, like add/drop_column) — an incremental window crossing it must
    NOT raise, and a rollup refresh over it stays delta-cost."""
    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    t = SnapshotTable(spark, str(tmp_path / "specinc"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id bigint, grp string, v bigint"
        )
    )
    r = MaterializedRollup(spark, str(tmp_path / "r"), t, ["grp"], ["v"])
    r.rebuild()
    t.set_partition_spec(["grp"])                                    # v2
    t.append(
        spark.createDataFrame([(3, "a", 30)], "id bigint, grp string, v bigint")
    )                                                                # v3
    assert sorted(
        r["id"] for r in t.read_incremental(1, 3).collect()
    ) == [3]
    assert r.refresh() == 1  # one delta row, no spurious rebuild demand
    got = {row["grp"]: row["sum_v"] for row in r.read().collect()}
    assert got == {"a": 40, "b": 20}


def test_refresh_cdf_noop_window_commits_nothing(spark, tmp_path):
    """Review fix: a content-neutral window (compaction) folds zero
    change rows and must not commit a no-op merge snapshot."""
    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    t = SnapshotTable(spark, str(tmp_path / "noop"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id bigint, grp string, v bigint"
        )
    )
    r = MaterializedRollup(spark, str(tmp_path / "r2"), t, ["grp"], ["v"])
    r.rebuild()
    rv = r.table.current_version()
    t.compact(target_files=1)
    assert r.refresh_cdf(["id"]) == 0
    assert r.table.current_version() == rv  # no junk snapshot
    assert r.last_base_version() == t.current_version()  # checkpoint moved


def test_rollup_sketch_cdf_random_waves_recompute_only_touched_groups(
    spark, tmp_path
):
    """Property (r7 verdict #4): over randomized update-heavy waves
    (value updates, cross-group moves, deletes, inserts; COW and MOR),
    refresh_cdf keeps counts/sums retract/apply-exact AND sketch
    estimates rebuild-identical, while recomputing sketches for EXACTLY
    the groups each window touched — every untouched group's stored
    sketch bytes are identical before and after the refresh."""
    import random

    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    rnd = random.Random(7)
    groups = ["a", "b", "c", "d"]
    model = {
        i: (groups[i % 4], i % 6) for i in range(24)
    }  # id -> (grp, u)
    base = SnapshotTable(spark, str(tmp_path / "base"))
    base.create_or_replace(
        spark.createDataFrame(
            [(k, g, u) for k, (g, u) in model.items()],
            "id bigint, grp string, u bigint",
        )
    )
    r = MaterializedRollup(
        spark, str(tmp_path / "roll"), base, ["grp"], [],
        approx_distinct_cols=["u"],
    )
    r.rebuild()
    next_id = 100
    for wave in range(4):
        live = sorted(model)
        upd = rnd.sample(live, k=3)
        dele = rnd.sample([k for k in live if k not in upd], k=1)
        ins = [next_id]
        next_id += 1
        rows = (
            [(k, rnd.choice(groups), rnd.randrange(12)) for k in upd]
            + [(k, model[k][0], -1) for k in dele]
            + [(k, rnd.choice(groups), rnd.randrange(12)) for k in ins]
        )
        before = {
            row["grp"]: bytes(row["hll_u"])
            for row in r.table.read().collect()
        }
        src = spark.createDataFrame(rows, "id bigint, grp string, u bigint")
        base.merge(
            src, on=["id"],
            clause=MergeClause(
                matched_delete_condition="s.v = -1".replace("v", "u"),
                matched_update={"grp": "s.grp", "u": "s.u"},
            ),
            mode=rnd.choice(["copy-on-write", "merge-on-read"]),
        )
        touched = set()
        for k, g, u in rows:
            if u == -1:
                touched.add(model[k][0])
                del model[k]
                continue
            if k in model and model[k] != (g, u):
                touched.add(model[k][0])  # pre-image group
                touched.add(g)
            elif k not in model:
                touched.add(g)
            model[k] = (g, u)
        r.refresh_cdf(["id"])
        after = {
            row["grp"]: bytes(row["hll_u"])
            for row in r.table.read().collect()
        }
        for g in before:
            if g not in touched and g in after:
                assert after[g] == before[g], (
                    f"wave {wave}: untouched group {g!r} was re-sketched"
                )
        # full-state equality with a from-scratch rebuild
        rb = MaterializedRollup(
            spark, str(tmp_path / f"rb{wave}"), base, ["grp"], [],
            approx_distinct_cols=["u"],
        )
        rb.rebuild()
        key = lambda row: (row["grp"], row["n_rows"], row["approx_distinct_u"])
        assert {key(x) for x in r.read().collect()} == {
            key(x) for x in rb.read().collect()
        }, f"wave {wave}"


def test_sketch_rebuild_prunes_to_touched_group_partitions(spark, tmp_path):
    """r7: when the base table is identity-partitioned by the group
    column, the group-scoped sketch rebuild FILE-prunes to the touched
    groups' partitions (IO receipt via pruned_files) and stays exact."""
    from pyspark.sql import functions as F

    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    base = SnapshotTable(spark, str(tmp_path / "b"))
    base.create_or_replace(
        spark.createDataFrame(
            [(i, "g%d" % (i % 4), i % 9) for i in range(48)],
            "id bigint, grp string, u bigint",
        ),
        partition_by=["grp"],
    )
    r = MaterializedRollup(
        spark, str(tmp_path / "r"), base, ["grp"], [],
        approx_distinct_cols=["u"],
    )
    r.rebuild()
    # update touching ONLY g1 (value rewrite retracts a distinct)
    base.merge(
        spark.createDataFrame([(1, "g1", 8)], "id bigint, grp string, u bigint"),
        on=["id"],
        clause=MergeClause(matched_update={"u": "s.u"}),
    )
    # the pruned base read for the touched group hits a strict subset
    # of the base's files
    snap = base._read_snapshot(base.current_version())
    pruned = base.pruned_files([("grp", "in", ["g1"])])
    assert 0 < len(pruned) < len(snap["files"])
    before = {
        row["grp"]: bytes(row["hll_u"]) for row in r.table.read().collect()
    }
    r.refresh_cdf(["id"])
    got = {
        row["grp"]: row["approx_distinct_u"] for row in r.read().collect()
    }
    exact = {
        row["grp"]: row["n"]
        for row in base.read()
        .groupBy("grp")
        .agg(F.count_distinct("u").alias("n"))
        .collect()
    }
    assert got == exact
    after = {
        row["grp"]: bytes(row["hll_u"]) for row in r.table.read().collect()
    }
    for g in ("g0", "g2", "g3"):
        assert after[g] == before[g]  # untouched groups never re-sketched


def test_refresh_cdf_sketch_isolated_from_concurrent_base_commit(
    spark, tmp_path, monkeypatch
):
    """r8 ADVICE: the group-scoped sketch rebuild executes LAZILY at
    merge time, so a base commit landing between window computation and
    the merge must not leak into the stored sketches — the scan is
    pinned to the window endpoint. Simulated by injecting an append
    right before refresh_cdf's merge executes; the sketch must estimate
    the endpoint's distinct count, and the next refresh_cdf folds the
    late append normally."""
    from iceberg_evaluation_spark.tables.rollup import MaterializedRollup

    base = SnapshotTable(spark, str(tmp_path / "b"))
    base.create_or_replace(
        spark.createDataFrame(
            [(i, "g0", i % 5) for i in range(20)],
            "id bigint, grp string, u bigint",
        )
    )                                                                # v1
    r = MaterializedRollup(
        spark, str(tmp_path / "r"), base, ["grp"], [],
        approx_distinct_cols=["u"],
    )
    r.rebuild()
    base.merge(                                                      # v2
        spark.createDataFrame([(0, "g0", 4)], "id bigint, grp string, u bigint"),
        on=["id"],
        clause=MergeClause(matched_update={"u": "s.u"}),
    )

    late = spark.createDataFrame(
        [(1000 + i, "g0", 100 + i) for i in range(50)],
        "id bigint, grp string, u bigint",
    )
    orig_merge = r.table.merge

    def racy_merge(*args, **kwargs):
        # the concurrent writer: 50 new distinct values land AFTER the
        # window was computed but BEFORE the sketch scan executes
        base.append(late)                                            # v3
        return orig_merge(*args, **kwargs)

    monkeypatch.setattr(r.table, "merge", racy_merge)
    n = r.refresh_cdf(["id"])
    monkeypatch.undo()
    assert n == 2  # the v1->v2 window: one update's two images
    got = {row["grp"]: row["approx_distinct_u"] for row in r.read().collect()}
    # endpoint (v2) has u in {0..4}: 5 distincts — NOT 55
    assert got == {"g0": 5}
    # exact columns agree with the sketch's snapshot: 20 rows at v2
    assert {row["n_rows"] for row in r.table.read().collect()} == {20}

    # the late append is not lost — the next refresh folds it
    r.refresh_cdf(["id"])
    got = {row["grp"]: row["approx_distinct_u"] for row in r.read().collect()}
    assert got == {"g0": 55}


def test_concurrent_first_appends_both_land(spark, tmp_path):
    """The CREATE race: two writers' FIRST appends to a not-yet-existing
    table must both land (loser retries as a real append) — previously
    the later create_or_replace silently replaced the winner's rows."""
    import threading

    from iceberg_evaluation_spark.tables.snapshot_table import (
        ConcurrentCommitError,
    )

    root = str(tmp_path / "birth_race")
    errs = []

    def writer(k: int) -> None:
        t = SnapshotTable(spark, root)
        for _ in range(30):
            try:
                t.append(
                    spark.createDataFrame([(k, k * 10)], "id bigint, v bigint")
                )
                return
            except ConcurrentCommitError:
                continue
            except Exception as e:  # pragma: no cover
                errs.append((k, repr(e)))
                return
        errs.append((k, "retries exhausted"))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errs, errs
    rows = sorted(
        map(tuple, SnapshotTable(spark, root).read().collect())
    )
    assert rows == [(k, k * 10) for k in range(4)]
