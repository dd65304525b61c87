"""Change Data Feed (operators/changelog): row-level diffs between
snapshot versions — Delta-CDF vocabulary over the snapshot table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_evaluation_spark.operators.changelog import table_changes
from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)


def _mk(spark, tmp_path, name="t"):
    t = SnapshotTable(spark, str(tmp_path / name))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40)],
            "id bigint, k string, v bigint",
        ),
        partitions=2,
    )
    return t


def _changes(t, frm, to=None):
    return {
        (r["id"], r["_change_type"]): (r["k"], r["v"])
        for r in table_changes(t, ["id"], frm, to).collect()
    }


def test_merge_window_emits_cdf_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(1, "a", 11), (9, "z", 90)], "id bigint, k string, v bigint"
        ),
        on=["id"],
        clause=MergeClause(
            matched_update={"v": "s.v"},
            matched_delete_condition="t.id = 1 AND false",
        ),
    )
    got = _changes(t, 1, 2)
    assert got == {
        (1, "update_preimage"): ("a", 10),
        (1, "update_postimage"): ("a", 11),
        (9, "insert"): ("z", 90),
    }
    ver = {r["_commit_version"] for r in table_changes(t, ["id"], 1).collect()}
    assert ver == {2}


def test_delete_and_null_key_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame([(3, "b", 0)], "id bigint, k string, v bigint"),
        on=["id"],
        clause=MergeClause(matched_delete_condition="s.v = 0"),
    )
    assert _changes(t, 1, 2) == {(3, "delete"): ("b", 30)}
    # a row whose VALUE column is NULL still pairs correctly (eqNullSafe)
    t.merge(
        spark.createDataFrame([(4, "x", 40)], "id bigint, k string, v bigint"),
        on=["id"],
        clause=MergeClause(matched_update={"k": "s.k"}),
    )
    got = _changes(t, 2, 3)
    assert got == {
        (4, "update_preimage"): (None, 40),
        (4, "update_postimage"): ("x", 40),
    }


def test_compaction_only_window_is_empty(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.compact(target_files=1)
    assert table_changes(t, ["id"], 1, 2).count() == 0


def test_append_window_is_inserts_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(
        spark.createDataFrame([(10, "c", 100)], "id bigint, k string, v bigint")
    )
    assert _changes(t, 1, 2) == {(10, "insert"): ("c", 100)}


def test_mor_window_and_multi_commit_span(spark, tmp_path):
    """Merge-on-read commits (live equality deletes) and a 3-commit
    window: the diff reflects the NET change across the span."""
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(2, "a", 21), (7, "d", 70)], "id bigint, k string, v bigint"
        ),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
        mode="merge-on-read",
    )
    t.merge(
        spark.createDataFrame([(7, "d", 71)], "id bigint, k string, v bigint"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
        mode="merge-on-read",
    )
    got = _changes(t, 1)  # v1 -> current (v3): net effect
    assert got == {
        (2, "update_preimage"): ("a", 20),
        (2, "update_postimage"): ("a", 21),
        (7, "insert"): ("d", 71),
    }
    # intermediate hop sees 70 -> 71 as an update
    assert _changes(t, 2, 3) == {
        (7, "update_preimage"): ("d", 70),
        (7, "update_postimage"): ("d", 71),
    }


def test_schema_evolution_window_reports_backfill_as_updates(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_column("extra", "bigint")
    t.merge(
        spark.createDataFrame([(1, 100)], "id bigint, extra bigint"),
        on=["id"],
        clause=MergeClause(
            matched_update={"extra": "s.extra"}, insert_when_not_matched=False
        ),
    )
    rows = {
        (r["id"], r["_change_type"]): r["extra"]
        for r in table_changes(t, ["id"], 1).collect()
    }
    assert rows == {
        (1, "update_preimage"): None,
        (1, "update_postimage"): 100,
    }


def test_file_diff_pruning_reads_only_changed_files(spark, tmp_path):
    """COW merge rewrites one file of eight; the CDF join must scan only
    the differing files, not the table (the 100 TB contract)."""
    t = SnapshotTable(spark, str(tmp_path / "big"))
    t.create_or_replace(
        spark.range(0, 800).selectExpr("id", "id * 2 AS v").repartition(8, "id"),
        partitions=8,
    )
    t.merge(
        spark.createDataFrame([(5, -1)], "id long, v long"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
        mode="copy-on-write",
    )
    df = table_changes(t, ["id"], 1, 2)
    got = {(r["id"], r["_change_type"]): r["v"] for r in df.collect()}
    assert got == {
        (5, "update_preimage"): 10,
        (5, "update_postimage"): -1,
    }
    # exact pin: no input file of the CDF frame is a carried (identical)
    # file — the join reads only the files the merge actually rewrote
    carried_rels = set(t._read_snapshot(1)["files"]) & set(
        t._read_snapshot(2)["files"]
    )
    assert carried_rels, "merge should carry untouched files"
    carried_bases = {rel.split("/")[-1] for rel in carried_rels}
    ins = df.inputFiles()
    assert ins, "CDF frame should scan the rewritten files"
    assert all(f.split("/")[-1] not in carried_bases for f in ins)


def test_bad_window_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="precedes"):
        table_changes(t, ["id"], 1, 0)
    with pytest.raises(ValueError, match="missing"):
        table_changes(t, ["ghost"], 1, 1)


def test_cdf_random_waves_match_model_over_any_window(spark, tmp_path):
    """Property: for ANY window (i, j) over randomized COW/MOR
    update/delete/insert waves, the CDF equals the set-diff of a plain
    Python model at versions i and j — inserts for j-only keys, deletes
    for i-only keys, pre/post image pairs for value changes, nothing
    for untouched keys."""
    import random

    rnd = random.Random(2026)
    t = SnapshotTable(spark, str(tmp_path / "prop"))
    model = {i: i * 10 for i in range(8)}
    t.create_or_replace(
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], "id bigint, v bigint"
        )
    )
    history = {1: dict(model)}
    next_id = 100
    for wave in range(5):
        live = sorted(model)
        upd = rnd.sample(live, k=min(2, len(live)))
        dele = rnd.sample([k for k in live if k not in upd], k=1)
        ins = [next_id]
        next_id += 1
        rows = (
            [(k, model[k] + 1000 + wave) for k in upd]
            + [(k, -1) for k in dele]
            + [(k, k * 10) for k in ins]
        )
        src = spark.createDataFrame(rows, "id bigint, v bigint")
        t.merge(
            src, on=["id"],
            clause=MergeClause(
                matched_delete_condition="s.v = -1",
                matched_update={"v": "s.v"},
            ),
            mode=rnd.choice(["copy-on-write", "merge-on-read"]),
        )
        for k in upd:
            model[k] = model[k] + 1000 + wave
        for k in dele:
            del model[k]
        for k in ins:
            model[k] = k * 10
        history[t.current_version()] = dict(model)

    versions = sorted(history)
    for _ in range(8):
        i, j = sorted(rnd.sample(versions, 2))
        a, b = history[i], history[j]
        exp = set()
        for k in b:
            if k not in a:
                exp.add((k, b[k], "insert"))
            elif a[k] != b[k]:
                exp.add((k, a[k], "update_preimage"))
                exp.add((k, b[k], "update_postimage"))
        for k in a:
            if k not in b:
                exp.add((k, a[k], "delete"))
        got = {
            (r["id"], r["v"], r["_change_type"])
            for r in table_changes(t, ["id"], i, j).collect()
        }
        assert got == exp, f"window v{i}->v{j}"


def test_append_window_supports_duplicate_keys(spark, tmp_path):
    """r6 verdict #5: a plain-append stream with DUPLICATE keys is
    first-class — append-only windows emit per-row inserts from the
    incremental scan (no join, no key-uniqueness requirement)."""
    from collections import Counter

    t = SnapshotTable(spark, str(tmp_path / "dup"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "id bigint, v bigint"
        )
    )                                                                # v1
    t.append(
        spark.createDataFrame([(1, 12), (2, 20)], "id bigint, v bigint")
    )                                                                # v2
    t.compact(target_files=1)                                        # v3
    t.append(
        spark.createDataFrame([(1, 12)], "id bigint, v bigint")
    )                                                                # v4
    got = Counter(
        (r["id"], r["v"], r["_change_type"])
        for r in table_changes(t, ["id"], 1, 4).collect()
    )
    assert got == Counter(
        {(1, 12, "insert"): 2, (2, 20, "insert"): 1}
    )
    # sub-windows classify independently
    assert table_changes(t, ["id"], 2, 3).count() == 0  # compaction only
    got2 = Counter(
        (r["id"], r["v"], r["_change_type"])
        for r in table_changes(t, ["id"], 3, 4).collect()
    )
    assert got2 == Counter({(1, 12, "insert"): 1})


def test_cdf_total_over_random_append_merge_interleavings(spark, tmp_path):
    """Property (r6 verdict #5): over randomized interleavings of
    APPEND waves and COW/MOR MERGE waves, table_changes over ANY window
    equals the dict-model diff — append-only windows route through the
    insert-only scan, overwrite windows through the key diff, and the
    two agree wherever both apply."""
    import random

    rnd = random.Random(424)
    t = SnapshotTable(spark, str(tmp_path / "mix"))
    model = {i: i * 10 for i in range(6)}
    t.create_or_replace(
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], "id bigint, v bigint"
        )
    )
    history = {1: dict(model)}
    next_id = 100
    for wave in range(6):
        if rnd.random() < 0.5:  # append wave (new unique ids)
            rows = [(next_id + i, (next_id + i) * 10) for i in range(2)]
            next_id += 2
            t.append(spark.createDataFrame(rows, "id bigint, v bigint"))
            for k, v in rows:
                model[k] = v
        else:  # merge wave: update 2, delete 1, insert 1
            live = sorted(model)
            upd = rnd.sample(live, k=2)
            dele = rnd.sample([k for k in live if k not in upd], k=1)
            ins = [next_id]
            next_id += 1
            rows = (
                [(k, model[k] + 1000 + wave) for k in upd]
                + [(k, -1) for k in dele]
                + [(k, k * 10) for k in ins]
            )
            t.merge(
                spark.createDataFrame(rows, "id bigint, v bigint"),
                on=["id"],
                clause=MergeClause(
                    matched_delete_condition="s.v = -1",
                    matched_update={"v": "s.v"},
                ),
                mode=rnd.choice(["copy-on-write", "merge-on-read"]),
            )
            for k in upd:
                model[k] = model[k] + 1000 + wave
            for k in dele:
                del model[k]
            for k in ins:
                model[k] = k * 10
        history[t.current_version()] = dict(model)

    versions = sorted(history)
    for _ in range(10):
        i, j = sorted(rnd.sample(versions, 2))
        a, b = history[i], history[j]
        exp = set()
        for k in b:
            if k not in a:
                exp.add((k, b[k], "insert"))
            elif a[k] != b[k]:
                exp.add((k, a[k], "update_preimage"))
                exp.add((k, b[k], "update_postimage"))
        for k in a:
            if k not in b:
                exp.add((k, a[k], "delete"))
        got = {
            (r["id"], r["v"], r["_change_type"])
            for r in table_changes(t, ["id"], i, j).collect()
        }
        assert got == exp, f"window v{i}->v{j}"


def test_apply_changes_round_trip_over_random_windows(spark, tmp_path):
    """Property (CDC consumer): for ANY window (i, j) over randomized
    append/merge histories, a replica standing at version i synced via
    apply_changes(table_changes(src, i, j)) holds EXACTLY version j's
    content — the changelog round-trips."""
    import random

    from iceberg_evaluation_spark.operators.changelog import apply_changes

    rnd = random.Random(88)
    t = SnapshotTable(spark, str(tmp_path / "src"))
    model = {i: i * 10 for i in range(6)}
    t.create_or_replace(
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], "id bigint, v bigint"
        )
    )
    next_id = 100
    for wave in range(5):
        if rnd.random() < 0.4:
            rows = [(next_id, next_id * 10)]
            next_id += 1
            t.append(spark.createDataFrame(rows, "id bigint, v bigint"))
        else:
            live = sorted(
                r["id"] for r in t.read().select("id").collect()
            )
            upd = rnd.sample(live, k=2)
            dele = rnd.sample([k for k in live if k not in upd], k=1)
            rows = (
                [(k, 5000 + wave * 10 + k) for k in upd]
                + [(k, -1) for k in dele]
                + [(next_id, next_id * 10)]
            )
            next_id += 1
            t.merge(
                spark.createDataFrame(rows, "id bigint, v bigint"),
                on=["id"],
                clause=MergeClause(
                    matched_delete_condition="s.v = -1",
                    matched_update={"v": "s.v"},
                ),
                mode=rnd.choice(["copy-on-write", "merge-on-read"]),
            )

    versions = list(range(1, t.current_version() + 1))
    for trial in range(6):
        i, j = sorted(rnd.sample(versions, 2))
        rep = SnapshotTable(spark, str(tmp_path / f"rep{trial}"))
        rep.create_or_replace(t.read(version=i))
        apply_changes(rep, table_changes(t, ["id"], i, j), ["id"])
        got = sorted(map(tuple, rep.read().collect()))
        want = sorted(map(tuple, t.read(version=j).collect()))
        assert got == want, f"window v{i}->v{j}"


def test_apply_changes_round_trips_duplicate_key_appends(spark, tmp_path):
    from collections import Counter

    from iceberg_evaluation_spark.operators.changelog import apply_changes

    t = SnapshotTable(spark, str(tmp_path / "dupsrc"))
    t.create_or_replace(
        spark.createDataFrame([(1, 10), (1, 11)], "id bigint, v bigint")
    )
    rep = SnapshotTable(spark, str(tmp_path / "duprep"))
    rep.create_or_replace(t.read())
    t.append(
        spark.createDataFrame([(1, 12), (2, 20)], "id bigint, v bigint")
    )
    n = apply_changes(rep, table_changes(t, ["id"], 1, 2), ["id"])
    assert n == 2
    assert Counter(map(tuple, rep.read().collect())) == Counter(
        map(tuple, t.read().collect())
    )


def test_cdf_survives_expired_intermediate_manifests(spark, tmp_path):
    """Code-review r7: the append-only classification reads intermediate
    manifests; when expire_snapshots removed them (endpoints survive as
    tag/head GC roots) table_changes must FALL BACK to the endpoint key
    diff instead of crashing."""
    t = SnapshotTable(spark, str(tmp_path / "exp"))
    t.create_or_replace(
        spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    )                                                                # v1
    t.create_tag("base")  # pins v1 through the expiry below
    t.append(spark.createDataFrame([(3, 30)], "id bigint, v bigint"))  # v2
    t.append(spark.createDataFrame([(4, 40)], "id bigint, v bigint"))  # v3
    t.merge(
        spark.createDataFrame([(1, 11)], "id bigint, v bigint"),
        on=["id"], clause=MergeClause(matched_update={"v": "s.v"}),
    )                                                                # v4
    t.expire_snapshots(keep_last=1)  # v2/v3 manifests gone, v1 tagged
    got = {
        (r["id"], r["v"], r["_change_type"])
        for r in table_changes(t, ["id"], 1, 4).collect()
    }
    assert got == {
        (3, 30, "insert"),
        (4, 40, "insert"),
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
    }


def test_drop_column_window_takes_diff_path(spark, tmp_path):
    """r8 ADVICE (medium): a drop_column commit changes pre-existing
    rows' VISIBLE content (old value -> NULL), so a window containing
    one must route through the endpoint diff and report those rows as
    updates — the append fast path would emit nothing for them, making
    the feed for one logical window depend on unrelated later commits."""
    t = _mk(spark, tmp_path)
    t.drop_column("v")                                                # v2
    t.append(
        spark.createDataFrame([(9, "z")], "id bigint, k string")
    )                                                                 # v3
    got = {
        (r["id"], r["_change_type"]): (r["k"], r["v"])
        for r in table_changes(t, ["id"], 1, 3).collect()
    }
    assert got == {
        (1, "update_preimage"): ("a", 10),
        (1, "update_postimage"): ("a", None),
        (2, "update_preimage"): ("a", 20),
        (2, "update_postimage"): ("a", None),
        (3, "update_preimage"): ("b", 30),
        (3, "update_postimage"): ("b", None),
        (4, "update_preimage"): (None, 40),
        (4, "update_postimage"): (None, None),
        (9, "insert"): ("z", None),
    }


def test_apply_changes_syncs_drop_column_window(spark, tmp_path):
    """The replica round-trip the diff path exists for: after applying a
    drop_column window, the replica holds version j's visible content on
    the union schema — the dropped column reads NULL everywhere, never
    the stale pre-drop values."""
    from iceberg_evaluation_spark.operators.changelog import apply_changes

    t = _mk(spark, tmp_path)
    rep = SnapshotTable(spark, str(tmp_path / "rep"))
    rep.create_or_replace(t.read())                    # replica at v1
    t.drop_column("v")                                                # v2
    t.append(
        spark.createDataFrame([(9, "z")], "id bigint, k string")
    )                                                                 # v3
    n = apply_changes(rep, table_changes(t, ["id"], 1, 3), ["id"])
    assert n == 5  # 4 post-images + 1 insert
    got = {
        (r["id"], r["k"], r["v"]) for r in rep.read().collect()
    }
    assert got == {
        (1, "a", None),
        (2, "a", None),
        (3, "b", None),
        (4, None, None),
        (9, "z", None),
    }


def test_add_column_window_agrees_across_paths(spark, tmp_path):
    """add_column STAYS on the append fast path: pre-existing rows read
    NULL for the new column at BOTH endpoints (name mapping), so the
    endpoint diff — forced here by expiring the intermediate manifests —
    emits exactly the same feed. Pins the safety argument that keeps
    add_column in _append_safe while drop_column was evicted."""
    t = _mk(spark, tmp_path)
    t.create_tag("base")  # pins v1 through the expiry below
    t.add_column("extra", "bigint")                                   # v2
    t.append(
        spark.createDataFrame(
            [(9, "z", 90, 900)],
            "id bigint, k string, v bigint, extra bigint",
        )
    )                                                                 # v3
    def feed():
        return {
            (r["id"], r["_change_type"], r["v"], r["extra"])
            for r in table_changes(t, ["id"], 1, 3).collect()
        }

    fast = feed()
    assert fast == {(9, "insert", 90, 900)}
    t.expire_snapshots(keep_last=1)  # v2 manifest gone -> diff path
    assert feed() == fast


def test_cdf_over_many_small_commits(spark, tmp_path):
    """r7 verdict #8: a window spanning 60+ commits (appends mixed with
    a compaction and an add_column) stays exact and takes the no-join
    append path — one incremental read over the whole window, never a
    per-commit union. The cost curve is pinned by
    tools/probe_cdf_commits.py (flat in commit count at fixed |changes|)."""
    t = SnapshotTable(spark, str(tmp_path / "many"))
    t.create_or_replace(
        spark.createDataFrame([(0, 0)], "id bigint, v bigint")
    )                                                                # v1
    expected = set()
    for i in range(1, 61):
        t.append(
            spark.createDataFrame([(i, i * 10)], "id bigint, v bigint")
            .coalesce(1)
        )
        expected.add((i, i * 10))
        if i == 30:
            t.compact(target_file_mb=64)     # content-neutral mid-window
        if i == 45:
            t.add_column("extra", "bigint")  # append-safe evolution
    got = {
        (r["id"], r["v"], r["_change_type"])
        for r in table_changes(t, ["id"], 1).collect()
    }
    assert got == {(i, v, "insert") for i, v in expected}


def test_apply_changes_evolves_replica_schema(spark, tmp_path):
    """CDC schema sync: a column the upstream gained inside the window
    rides in the feed and the replica evolves to match before the merge
    (Delta mergeSchema / Iceberg schema-sync behavior) — no out-of-band
    DDL coordination. Round-trip: replica content equals the upstream
    endpoint, new column included."""
    from iceberg_evaluation_spark.operators.changelog import apply_changes

    t = _mk(spark, tmp_path)
    rep = SnapshotTable(spark, str(tmp_path / "rep"))
    rep.create_or_replace(t.read())                     # replica at v1
    t.add_column("w", "bigint")                                       # v2
    t.append(
        spark.createDataFrame(
            [(9, "z", 90, 900)], "id bigint, k string, v bigint, w bigint"
        )
    )                                                                 # v3
    t.merge(                                                          # v4
        spark.createDataFrame([(1, 111)], "id bigint, w bigint"),
        on=["id"],
        clause=MergeClause(
            matched_update={"w": "s.w"}, insert_when_not_matched=False
        ),
    )
    n = apply_changes(rep, table_changes(t, ["id"], 1, 4), ["id"])
    assert n == 2  # one insert + one update post-image
    got = {
        (r["id"], r["k"], r["v"], r["w"]) for r in rep.read().collect()
    }
    exp = {
        (r["id"], r["k"], r["v"], r["w"]) for r in t.read().collect()
    }
    assert got == exp
    assert (1, "a", 10, 111) in got and (9, "z", 90, 900) in got


def test_apply_changes_empty_window_is_noop(spark, tmp_path):
    from iceberg_evaluation_spark.operators.changelog import apply_changes

    t = _mk(spark, tmp_path)
    rep = SnapshotTable(spark, str(tmp_path / "rep"))
    rep.create_or_replace(t.read())
    t.compact(target_file_mb=64)  # content-neutral commit
    v_before = rep.current_version()
    assert apply_changes(rep, table_changes(t, ["id"], 1, 2), ["id"]) == 0
    assert rep.current_version() == v_before  # no no-op snapshot


def test_apply_changes_round_trip_with_schema_evolution(spark, tmp_path):
    """Property (r8): the replica round-trip holds over randomized
    histories that interleave appends, COW/MOR merges, add_column and
    drop_column. For any window (i, j), a replica bootstrapped at i and
    synced with apply_changes holds version j's content on the UNION of
    the endpoint schemas — added columns auto-evolve onto the replica,
    dropped columns read NULL."""
    import random

    from iceberg_evaluation_spark.operators.changelog import apply_changes

    rnd = random.Random(4242)
    t = SnapshotTable(spark, str(tmp_path / "evo"))
    cols = ["id", "v"]
    model = {i: {"id": i, "v": i * 10} for i in range(5)}
    t.create_or_replace(
        spark.createDataFrame(
            [(r["id"], r["v"]) for r in model.values()], "id bigint, v bigint"
        )
    )
    history = {1: (list(cols), {k: dict(r) for k, r in model.items()})}
    next_id, next_col = 100, 0

    def frame(rows):
        data = [tuple(r.get(c) for c in cols) for r in rows]
        return spark.createDataFrame(
            data, ", ".join(f"{c} bigint" for c in cols)
        )

    for wave in range(7):
        act = rnd.choice(["append", "merge", "add", "drop", "append"])
        extra = [c for c in cols if c not in ("id", "v")]
        if act == "add":
            c = f"c{next_col}"
            next_col += 1
            t.add_column(c, "bigint")
            cols.append(c)
        elif act == "drop" and extra:
            c = rnd.choice(extra)
            t.drop_column(c)
            cols.remove(c)
            for r in model.values():
                r.pop(c, None)
        elif act == "merge":
            live = sorted(model)
            upd = rnd.sample(live, k=2)
            dele = rnd.sample([k for k in live if k not in upd], k=1)
            rows = []
            for k in upd:
                model[k]["v"] = 5000 + wave * 10 + k
                rows.append(dict(model[k]))
            for k in dele:
                rows.append({**model.pop(k), "v": -1})
            ins = {"id": next_id, "v": next_id * 10}
            for c in extra:
                ins[c] = next_id + hash(c) % 7
            next_id += 1
            model[ins["id"]] = dict(ins)
            rows.append(ins)
            t.merge(
                frame(rows),
                on=["id"],
                clause=MergeClause(
                    matched_delete_condition="s.v = -1",
                    matched_update={
                        c: f"s.{c}" for c in cols if c != "id"
                    },
                ),
                mode=rnd.choice(["copy-on-write", "merge-on-read"]),
            )
        else:  # append
            rows = []
            for _ in range(2):
                r = {"id": next_id, "v": next_id * 10}
                for c in extra:
                    r[c] = next_id + hash(c) % 5
                model[next_id] = dict(r)
                next_id += 1
                rows.append(r)
            t.append(frame(rows))
        history[t.current_version()] = (
            list(cols),
            {k: dict(r) for k, r in model.items()},
        )

    versions = sorted(history)
    for trial in range(8):
        i, j = sorted(rnd.sample(versions, 2))
        cols_i, _ = history[i]
        cols_j, model_j = history[j]
        union = list(dict.fromkeys(cols_i + cols_j))
        rep = SnapshotTable(spark, str(tmp_path / f"rep{trial}"))
        rep.create_or_replace(t.read(version=i))
        apply_changes(rep, table_changes(t, ["id"], i, j), ["id"])
        got = {
            r["id"]: {c: r[c] for c in union}
            for r in rep.read().collect()
        }
        want = {
            k: {c: (r.get(c) if c in cols_j else None) for c in union}
            for k, r in model_j.items()
        }
        assert got == want, f"window v{i}->v{j} (trial {trial})"


def test_feed_pads_typed_nulls_never_void(spark, tmp_path):
    """r8 ADVICE: a column missing from one window endpoint must pad as
    a TYPED null in the feed, never bare F.lit(None) (void). A void
    column relies on unionByName coercion on the diff path and has NO
    rescue on the insert-only fast path — apply_changes' append would
    reject void→<type> on a replica that carries the column typed."""
    from iceberg_evaluation_spark.operators.changelog import apply_changes

    t = SnapshotTable(spark, str(tmp_path / "src"))
    # v1: EMPTY table with a non-string column that the window drops
    t.create_or_replace(
        spark.createDataFrame([], "id bigint, val string, score bigint")
    )
    rep = SnapshotTable(spark, str(tmp_path / "rep"))
    rep.create_or_replace(t.read(1))
    t.drop_column("score")                                         # v2
    t.append(
        spark.createDataFrame([(2, "b")], "id bigint, val string")
    )                                                              # v3
    ch = table_changes(t, ["id"], 1, 3)
    # the dropped column rides in the feed with its REAL type
    assert dict(ch.dtypes)["score"] == "bigint"
    assert [r["_change_type"] for r in ch.collect()] == ["insert"]
    # the insert-only fast path (plain append) must accept the feed
    assert apply_changes(rep, ch, ["id"]) == 1
    rows = {r["id"]: (r["val"], r["score"]) for r in rep.read().collect()}
    assert rows == {2: ("b", None)}


def test_add_column_window_feed_is_typed(spark, tmp_path):
    """Same typed-pad guarantee on the other endpoint: a column ADDED
    inside the window is absent from side a; the diff path must type
    its pad from side b's schema."""
    t = _mk(spark, tmp_path)
    t.add_column("score", "double")                                # v2
    t.merge(  # overwrite-class commit → diff path
        spark.createDataFrame([(1, 1.5)], "id bigint, score double"),
        on=["id"],
        clause=MergeClause(matched_update={"score": "s.score"}),
    )                                                              # v3
    ch = table_changes(t, ["id"], 1, 3)
    assert dict(ch.dtypes)["score"] == "double"
    got = {
        (r["id"], r["_change_type"]): r["score"] for r in ch.collect()
    }
    assert got[(1, "update_preimage")] is None
    assert got[(1, "update_postimage")] == 1.5


def _cursor_fixture(spark, tmp_path):
    """source with 3 windows (merge / append / MOR-merge), replica
    bootstrapped at v1 with a persisted cursor."""
    from iceberg_evaluation_spark.operators.changelog import init_replica

    t = _mk(spark, tmp_path, "cur_src")
    rep = SnapshotTable(spark, str(tmp_path / "cur_rep"))
    init_replica(rep, t, ["id"], at_version=1)
    t.merge(  # v2
        spark.createDataFrame([(1, 111), (9, 900)], "id bigint, v bigint"),
        on=["id"],
        clause=MergeClause(
            matched_update={"v": "s.v"},
            insert_values={"id": "s.id", "v": "s.v", "k": "'new'"},
        ),
    )
    t.append(  # v3
        spark.createDataFrame([(10, "c", 100)], "id bigint, k string, v bigint")
    )
    t.merge(  # v4 (merge-on-read)
        spark.createDataFrame([(2, 222)], "id bigint, v bigint"),
        on=["id"],
        clause=MergeClause(
            matched_update={"v": "s.v"}, insert_when_not_matched=False
        ),
        mode="merge-on-read",
    )
    return t, rep


def test_cdc_cursor_survives_consumer_restart(spark, tmp_path):
    """r8 verdict #2: a restarted consumer resumes from the persisted
    cursor — no hand-tracked 'last applied version'. Sync one window,
    reopen the replica through a FRESH handle mid-stream, sync the
    rest, and the replica equals the source head exactly."""
    from iceberg_evaluation_spark.operators.changelog import (
        replica_cursor,
        sync_replica,
    )

    t, rep = _cursor_fixture(spark, tmp_path)
    assert replica_cursor(rep)["applied_version"] == 1
    assert sync_replica(rep, t, to_version=2) > 0
    assert replica_cursor(rep)["applied_version"] == 2

    # the restart: a new handle knows NOTHING but the roots
    rep2 = SnapshotTable(spark, rep.root)
    cur = replica_cursor(rep2)
    assert cur["applied_version"] == 2 and cur["keys"] == ["id"]
    assert sync_replica(rep2, t, to_version=3) == 1   # the append window
    assert sync_replica(rep2, t) > 0                  # to the head (v4)
    assert replica_cursor(rep2)["applied_version"] == 4

    want = {(r["id"], r["k"], r["v"]) for r in t.read().collect()}
    got = {(r["id"], r["k"], r["v"]) for r in rep2.read().collect()}
    assert got == want
    # an up-to-date replica syncs as a no-op, cursor unchanged
    assert sync_replica(rep2, t) == 0
    assert replica_cursor(rep2)["applied_version"] == 4


def test_cdc_cursor_refuses_reapply_and_skip(spark, tmp_path):
    """Out-of-order windows refuse loudly in BOTH directions: re-apply
    (would duplicate inserts via the append fast path) and skip (would
    silently diverge). Mirrors the epoch sink's stale-epoch refusal."""
    from iceberg_evaluation_spark.operators.changelog import sync_replica

    t, rep = _cursor_fixture(spark, tmp_path)
    sync_replica(rep, t, to_version=2)
    with pytest.raises(ValueError, match="re-applying"):
        sync_replica(rep, t, from_version=1, to_version=2)
    with pytest.raises(ValueError, match="skipping"):
        sync_replica(rep, t, from_version=3, to_version=4)
    with pytest.raises(ValueError, match="precedes the cursor"):
        sync_replica(rep, t, to_version=1)
    # a foreign source refuses by root identity
    other = _mk(spark, tmp_path, "other_src")
    with pytest.raises(ValueError, match="tracks source"):
        sync_replica(rep, other)


def test_cdc_cursor_heals_after_commit_meta_crash(spark, tmp_path, monkeypatch):
    """The applied version is stamped INTO the data commit's summary; a
    crash between that commit and the meta write must not re-apply the
    window on restart — replica_cursor reads the stamp and heals the
    meta (the insert fast path is a plain append; a re-apply would
    duplicate rows)."""
    import iceberg_evaluation_spark.operators.changelog as mod
    from iceberg_evaluation_spark.operators.changelog import (
        replica_cursor,
        sync_replica,
    )

    t, rep = _cursor_fixture(spark, tmp_path)
    sync_replica(rep, t, to_version=2)

    orig = mod.write_json_meta
    def crashy(path, meta):
        if path.endswith("REPLICA_META"):
            raise RuntimeError("simulated crash before meta write")
        return orig(path, meta)

    monkeypatch.setattr(mod, "write_json_meta", crashy)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sync_replica(rep, t, to_version=3)  # data commit LANDS, meta does not
    monkeypatch.undo()

    # restart: the stamp (v3) outranks the stale meta (v2) — heal, no re-apply
    rep2 = SnapshotTable(spark, rep.root)
    assert replica_cursor(rep2)["applied_version"] == 3
    assert sync_replica(rep2, t) > 0  # continues at v3 → v4
    want = {(r["id"], r["k"], r["v"]) for r in t.read().collect()}
    got = {(r["id"], r["k"], r["v"]) for r in rep2.read().collect()}
    assert got == want  # and in particular: id=10 appended exactly once


def test_cdc_cursor_vs_source_expiry(spark, tmp_path):
    """A consumer that lagged beyond the source's snapshot retention
    must get an actionable refusal (re-bootstrap), never a guess; a
    consumer within retention keeps syncing after the same expiry.
    The endpoint diff never needs the expired INTERMEDIATE manifests —
    only the cursor endpoint itself must survive."""
    from iceberg_evaluation_spark.operators.changelog import (
        init_replica,
        sync_replica,
    )

    t, rep = _cursor_fixture(spark, tmp_path)          # source at v4
    lagger = SnapshotTable(spark, str(tmp_path / "lagger"))
    init_replica(lagger, t, ["id"], at_version=1)       # cursor at v1
    sync_replica(rep, t, to_version=3)                  # cursor at v3

    t.expire_snapshots(keep_last=2)                     # v1, v2 expire

    # within retention: v3 survives → the fresh consumer drains fine
    assert sync_replica(rep, t) > 0
    want = {(r["id"], r["k"], r["v"]) for r in t.read().collect()}
    assert {(r["id"], r["k"], r["v"]) for r in rep.read().collect()} == want

    # beyond retention: v1 is gone → loud, actionable refusal
    with pytest.raises(ValueError, match="re-bootstrap"):
        sync_replica(lagger, t)


def test_window_census_from_manifest_matches_row_census(spark, tmp_path):
    """The zero-job census router: append and delete windows census
    straight from the snapshot summary/manifest stats and must equal
    the row-level groupBy census; merge windows defer (None). A replica
    synced through manifest-censused windows lands byte-identical to
    the source at every step."""
    from iceberg_evaluation_spark.operators.changelog import (
        _window_census_from_manifest,
        init_replica,
        sync_replica,
    )

    t = _mk(spark, tmp_path)
    rep = SnapshotTable(spark, str(tmp_path / "rep"))
    init_replica(rep, t, ["id"])                                    # at v1
    t.append(
        spark.createDataFrame(
            [(5, "c", 50), (6, "c", 60)], "id bigint, k string, v bigint"
        )
    )                                                               # v2
    t.delete_keys(
        spark.createDataFrame([(2,)], "id bigint"), on=["id"]
    )                                                               # v3
    t.merge(
        spark.createDataFrame([(5, "c", 55)], "id bigint, k string, v bigint"),
        on=["id"],
        clause=MergeClause(matched_update={"v": "s.v"}),
    )                                                               # v4

    def _row_census(lo, hi):
        return {
            r["_change_type"]: r["n"]
            for r in table_changes(t, ["id"], lo, hi)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert _window_census_from_manifest(t, 1, 2) == _row_census(1, 2) == {
        "insert": 2
    }
    assert _window_census_from_manifest(t, 2, 3) == _row_census(2, 3) == {
        "delete": 1
    }
    assert _window_census_from_manifest(t, 3, 4) is None  # merge: probe

    # replica round-trip through all three window classes, one at a time
    for v in (2, 3, 4):
        sync_replica(rep, t, to_version=v)
        assert {
            (r["id"], r["k"], r["v"]) for r in rep.read().collect()
        } == {(r["id"], r["k"], r["v"]) for r in t.read(v).collect()}
