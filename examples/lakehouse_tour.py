#!/usr/bin/env python
"""End-to-end tour of the snapshot table layer — every capability the
engine re-expresses from the reference's Iceberg evaluation, in the
order a real lakehouse would use them:

    partitioned CTAS → append → copy-on-write MERGE → merge-on-read
    MERGE → time travel → $history/$files → incremental scan →
    stats-pruned scan → compaction (materializes deletes, restores
    layout) → rollback → snapshot expiry + orphan GC

Each step asserts its own contract, so the script doubles as a smoke
test:  python examples/lakehouse_tour.py [SF_DIR]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from iceberg_evaluation_spark.session import get_spark
from iceberg_evaluation_spark.sources import load_table
from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="lakehouse-tour")

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).withColumn("o_year", F.year("o_orderdate"))

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="tour_"))

    # 1. partitioned CTAS (reference tables partition on the date key)
    t.create_or_replace(orders, partitions=2, partition_by=["o_year"])
    n0 = t.read().count()
    print(f"v{t.current_version()} CTAS: {n0} rows, partitioned by o_year")

    # 2. append a synthetic late batch
    late = orders.limit(50).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    t.append(late)
    assert t.read().count() == n0 + 50
    print(f"v{t.current_version()} append: +50 rows")

    # 3. copy-on-write MERGE (update wave)
    wave1 = orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + 1_000_000
    )
    t.merge(wave1, on=["o_orderkey"],
            clause=MergeClause(matched_update={"o_custkey": "s.o_custkey"}),
            mode="copy-on-write")
    cow_summary = t._read_snapshot(t.current_version())["summary"]
    print(f"v{t.current_version()} COW merge: rewrote {cow_summary['rewritten_files']} files")

    # 4. merge-on-read MERGE (delete wave) — no rewrite, delete files
    wave2 = orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    t.merge(wave2, on=["o_orderkey"],
            clause=MergeClause(matched_update=None, matched_delete_condition="true",
                               insert_when_not_matched=False),
            mode="merge-on-read")
    mor_summary = t._read_snapshot(t.current_version())["summary"]
    assert mor_summary["rewritten_files"] == 0
    n_after_delete = t.read().count()
    print(f"v{t.current_version()} MOR merge: 0 rewrites, "
          f"{mor_summary['added_delete_files']} delete files, {n_after_delete} rows live")

    # 5. time travel + metadata tables
    assert t.read(version=1).count() == n0
    history = {r["version"]: r["operation"] for r in t.history().collect()}
    n_files = t.files_metadata().count()
    print(f"history: {history}; $files rows: {n_files}")

    # 6. incremental scan of the append
    added = t.read_incremental(1, 2).count()
    assert added == 50
    print(f"incremental v1→v2: {added} rows")

    # 7. stats-pruned scan: partition predicate prunes from the manifest
    one_year = t.read_where([("o_year", "=", 1997)])
    scanned = [f for f in one_year.inputFiles() if "o_year=" in f]
    assert scanned and all("o_year=1997" in f for f in scanned)
    assert one_year.count() > 0
    print(f"read_where(o_year=1997): {one_year.count()} rows from {len(scanned)} partitioned files")

    # 8. compaction: materializes MOR deletes, restores partition layout
    before = sorted(map(tuple, t.read().collect()))
    t.compact(target_files=2)
    snap = t._read_snapshot(t.current_version())
    assert snap["delete_files"] == []
    assert sorted(map(tuple, t.read().collect())) == before
    print(f"v{t.current_version()} compact: deletes materialized, layout restored")

    # 9. rollback, then roll forward again (history-preserving)
    v_before = t.current_version()
    t.rollback(1)
    assert t.read().count() == n0
    t.rollback(v_before)
    assert t.read().count() == n_after_delete
    print(f"v{t.current_version()} rollback roundtrip ok")

    # 10. write-audit-publish: stage on a branch, publish by fast-forward
    br = t.create_branch("wap")
    br.append(t.read().limit(5).selectExpr(
        "o_orderkey + 90000000 AS o_orderkey", "o_custkey", "o_totalprice",
        "o_orderdate", "o_year",
    ))
    assert t.read().count() == n_after_delete  # main isolated while staging
    t.fast_forward("wap")
    t.drop_branch("wap")
    n_published = t.read().count()
    assert n_published == n_after_delete + 5
    print(f"v{t.current_version()} WAP publish: +5 rows after audit")

    # 11. change data feed over the publish window (before expiry
    # removes the pre-publish manifest)
    from iceberg_evaluation_spark.operators.changelog import table_changes
    v_now = t.current_version()
    cdf = {
        r["_change_type"]: r["count"]
        for r in table_changes(t, ["o_orderkey"], v_now - 1, v_now)
        .groupBy("_change_type").count().collect()
    }
    assert cdf == {"insert": 5}
    print(f"CDF v{v_now - 1}->v{v_now}: {cdf}")

    # 12. tag the release: a GC root expiry can never collect
    t.create_tag("release-1")
    expired = t.expire_snapshots(keep_last=1)
    orphans = t.remove_orphan_files(older_than_ms=2**62)
    assert t.read_tag("release-1").count() == n_published
    print(f"expired {expired} files, {orphans} orphans removed; "
          f"tag release-1 still reads {n_published} rows")

    print("lakehouse tour: ALL CONTRACTS HELD")
    spark.stop()


if __name__ == "__main__":
    main()
