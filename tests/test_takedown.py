"""Takedown/delete propagation through standing state (r9 verdict #1):
a corpus deletion must purge the document from every derived artifact
— dedup band indexes, SRP semantic bands, ANN inverted lists, bucketed
lookups — or deleted content keeps matching as a 'duplicate' partner
and keeps surfacing in ANN results. Driven end-to-end from the CDF."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_evaluation_spark.operators.incremental_dedup import (
    build_dedup_state,
    build_semantic_state,
    incremental_neardup_dedup,
    incremental_semantic_dedup,
)
from iceberg_evaluation_spark.operators.takedown import (
    propagate_takedown,
    takedown_ids,
)
from iceberg_evaluation_spark.tables.snapshot_table import (
    MergeClause,
    SnapshotTable,
)

from .test_merge_auto_mode import _jobs

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "pack my box with five dozen liquor jugs for the annual county fair"),
    (3, "sphinx of black quartz judge my vow said the museum curator today"),
    (4, "a completely different fourth document about distributed queries"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


# --------------------------------------------------------------- table layer
def test_delete_keys_rewrites_only_touched_files(spark, tmp_path):
    """The DELETE primitive: rows gone, untouched files carried by
    reference, a no-op delete commits nothing."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("p"), F.lit("x").alias("v")
    )
    t.create_or_replace(df, partition_by=["p"])
    before = set(t._read_snapshot(t.current_version())["files"])
    # ids 0..24 all live in p=0..3; delete ids whose p == 1 only
    victims = spark.range(100).filter(F.col("id") % 4 == 1).select("id")
    n = t.delete_keys(victims, on=["id"])
    assert n == 25
    after_snap = t._read_snapshot(t.current_version())
    after = set(after_snap["files"])
    untouched_before = {f for f in before if "p=1" not in f}
    assert untouched_before <= after  # carried, not rewritten
    assert t.read().count() == 75
    assert t.read().filter(F.col("id") % 4 == 1).count() == 0
    # partition layout preserved on the rewritten side
    assert after_snap.get("partition_by") == ["p"]
    # no-op: nothing matches → no commit
    v = t.current_version()
    assert t.delete_keys(_ids(spark, [9999]).withColumnRenamed("doc_id", "id"), on=["id"]) == 0
    assert t.current_version() == v


def test_delete_keys_with_prune_filters(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(40).select(F.col("id"), (F.col("id") % 2).alias("b"))
    t.create_or_replace(df, partition_by=["b"])
    n = t.delete_keys(
        spark.createDataFrame([(2,), (4,)], "id bigint"),
        on=["id"],
        prune_filters=[("b", "in", [0])],
    )
    assert n == 2
    assert t.read().count() == 38


# ------------------------------------------------------------- dedup family
def test_dedup_delete_declassifies_duplicates(spark, tmp_path):
    """A delta copy of a taken-down document must classify 'new' — and
    the session bloom cache built BEFORE the delete must not change
    that (stale bits are discharged by the exact anti-join)."""
    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
    )
    lookup = _docs(spark, CORPUS)
    delta1 = _docs(spark, [(101, CORPUS[0][1])])
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, delta1, lookup, "doc_id", "text", append_new=False
    ).collect()}
    assert got == {101: "exact_dup"}  # bloom cache is now warm

    receipt = state.apply_deletes(_ids(spark, [1]))
    assert receipt["fingerprint_rows"] == 1
    assert receipt["band_rows"] == 16  # one row per band
    kept_lookup = _docs(spark, CORPUS[1:])
    delta2 = _docs(spark, [(102, CORPUS[0][1])])
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, delta2, kept_lookup, "doc_id", "text", append_new=False
    ).collect()}
    assert got == {102: "new"}
    # a copy of a KEPT doc still classifies exact_dup
    delta3 = _docs(spark, [(103, CORPUS[1][1])])
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, delta3, kept_lookup, "doc_id", "text", append_new=False
    ).collect()}
    assert got == {103: "exact_dup"}
    # idempotent: re-running the same takedown commits nothing
    vf = state.fingerprints.current_version()
    vb = state.bands.current_version()
    again = state.apply_deletes(_ids(spark, [1]))
    assert again == {"fingerprint_rows": 0, "band_rows": 0}
    assert state.fingerprints.current_version() == vf
    assert state.bands.current_version() == vb


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.70, 0.70, 0.01, 0.0]),
]


def test_semantic_delete_declassifies_duplicates(spark, tmp_path):
    state = build_semantic_state(
        spark, _vectors(spark, VECS), str(tmp_path / "sbands"),
        id_col="vec_id", vec_col="embedding",
    )
    lookup = _vectors(spark, VECS)
    d1 = _vectors(spark, [(101, [1.0, 0.0, 0.0, 0.0])])
    got = {r["id"]: r["status"] for r in incremental_semantic_dedup(
        state, d1, lookup, append_new=False
    ).collect()}
    assert got == {101: "dup"}
    state.apply_deletes(_ids(spark, [1]).withColumnRenamed("doc_id", "vec_id"))
    kept = _vectors(spark, VECS[1:])
    d2 = _vectors(spark, [(102, [1.0, 0.0, 0.0, 0.0])])
    got = {r["id"]: r["status"] for r in incremental_semantic_dedup(
        state, d2, kept, append_new=False
    ).collect()}
    assert got == {102: "new"}


# ----------------------------------------------------------------- ann index
def test_ann_delete_purges_results_and_preserves_pruning(spark, tmp_path):
    from iceberg_evaluation_spark.operators.ann_state import (
        build_ann_state,
        open_ann_state,
    )

    corpus = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda p: (
                F.when((p % 4) == F.col("id") % 4, 1.0).otherwise(0.0)
                + (F.col("id") * (p + 1) % 97) / 970.0
            ),
        ).alias("embedding"),
    )
    cent, assign = str(tmp_path / "cent"), str(tmp_path / "assign")
    st = build_ann_state(spark, corpus, cent, assign, n_cells=4)
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = {r["vec_id"] for r in st.topk(q, k=5, nprobe=4).collect()}
    assert 0 in hits  # its own vector is its top hit
    before = set(
        st.assignments._read_snapshot(st.assignments.current_version())["files"]
    )
    victims = corpus.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    n = st.delete(victims)
    assert n == 30
    after = set(
        st.assignments._read_snapshot(st.assignments.current_version())["files"]
    )
    assert before & after, "untouched inverted-list files must be carried"
    # no probe may ever return a deleted id again
    got = st.topk(q, k=10, nprobe=4).collect()
    assert got and all(r["vec_id"] % 4 != 0 for r in got)
    # the state reopens cleanly (geometry + sync witnesses intact) and
    # the reopened probe agrees
    re = open_ann_state(spark, cent, assign)
    got2 = re.topk(q, k=10, nprobe=4).collect()
    assert {r["vec_id"] for r in got2} == {r["vec_id"] for r in got}
    # pruned-read receipt: no file the probe reads contains a deleted id
    probed = re.probe_files(q, nprobe=4)
    probe_df = re._unpack(
        re.assignments._read_snapshot_df(
            re.assignments._read_snapshot(re.assignments.current_version()),
            only_files=probed,
        )
    )
    assert probe_df.filter(F.col("vec_id") % 4 == 0).count() == 0


# ----------------------------------------------------------- bucketed lookup
def test_bucketed_lookup_delete_is_bucket_pruned(spark, tmp_path):
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )
    before = set(
        lk.table._read_snapshot(lk.table.current_version())["files"]
    )
    n = lk.delete(_ids(spark, [1]))
    assert n == 1
    after = set(
        lk.table._read_snapshot(lk.table.current_version())["files"]
    )
    victim_buckets = lk.candidate_buckets(_ids(spark, [1]))
    untouched = {
        f for f in before
        if not any(f"_id_bucket={b}/" in f for b in victim_buckets)
    }
    assert untouched <= after  # only the victim's bucket was rewritten
    assert lk.fetch(_ids(spark, [1])).filter(
        F.col("doc_id") == 1
    ).count() == 0
    assert lk.read().count() == 3


# ------------------------------------------------------- CDF-driven pipeline
def test_propagate_takedown_from_cdf_window(spark, tmp_path):
    """The full composition: a delete-aware corpus MERGE emits a CDF
    delete window; takedown_ids extracts the ids; propagate_takedown
    purges every artifact; re-running is idempotent."""
    from iceberg_evaluation_spark.operators.changelog import table_changes
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    corpus_t = SnapshotTable(spark, str(tmp_path / "corpus"))
    corpus_t.create_or_replace(_docs(spark, CORPUS))
    v0 = corpus_t.current_version()

    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
    )
    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )

    # the takedown: delete-aware MERGE removes docs 1 and 3
    corpus_t.merge(
        _ids(spark, [1, 3]).withColumn("_drop", F.lit(True)),
        on=["doc_id"],
        clause=MergeClause(
            matched_delete_condition="s._drop",
            insert_when_not_matched=False,
        ),
    )
    changes = table_changes(corpus_t, ["doc_id"], v0)
    ids = takedown_ids(changes, "doc_id")
    assert {r["doc_id"] for r in ids.collect()} == {1, 3}

    receipt = propagate_takedown(ids, dedup_state=state, lookups=[lk])
    assert receipt["dedup"]["fingerprint_rows"] == 2
    assert receipt["dedup"]["band_rows"] == 32
    assert receipt["lookup_0_rows"] == 2

    # deleted content no longer matches; kept content still does
    kept_lookup = _docs(spark, [CORPUS[1], CORPUS[3]])
    delta = _docs(spark, [
        (201, CORPUS[0][1]),  # copy of deleted 1 → new
        (202, CORPUS[1][1]),  # copy of kept 2 → exact_dup
    ])
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, delta, kept_lookup, "doc_id", "text", append_new=False
    ).collect()}
    assert got == {201: "new", 202: "exact_dup"}

    # idempotent recovery: the same window re-propagated commits nothing
    versions = (
        state.fingerprints.current_version(),
        state.bands.current_version(),
        lk.table.current_version(),
    )
    again = propagate_takedown(ids, dedup_state=state, lookups=[lk])
    assert again["dedup"] == {"fingerprint_rows": 0, "band_rows": 0}
    assert again["lookup_0_rows"] == 0
    assert versions == (
        state.fingerprints.current_version(),
        state.bands.current_version(),
        lk.table.current_version(),
    )


def test_delete_keys_merge_on_read_matches_cow(spark, tmp_path):
    """MOR takedown: an equality-delete file instead of any rewrite —
    byte-identical table contents to the copy-on-write path, O(|ids|)
    write cost, and compact() materializes the deletes away."""
    cow = SnapshotTable(spark, str(tmp_path / "cow"))
    mor = SnapshotTable(spark, str(tmp_path / "mor"))
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 4).alias("p"), (F.col("id") * 3).alias("v")
    )
    for t in (cow, mor):
        t.create_or_replace(df, partition_by=["p"])
    victims = spark.range(200).filter(F.col("id") % 9 == 2).select("id")
    n1 = cow.delete_keys(victims, on=["id"])
    n2 = mor.delete_keys(victims, on=["id"], mode="merge-on-read")
    assert n1 == n2 > 0
    snap = mor._read_snapshot(mor.current_version())
    assert snap["summary"]["rewritten_files"] == 0  # nothing rewritten
    assert snap["delete_files"]  # the equality-delete file landed
    rows = lambda t: sorted(
        (r["id"], r["p"], r["v"]) for r in t.read().collect()
    )
    assert rows(cow) == rows(mor)
    # a second MOR delete of the SAME keys matches nothing: no commit
    v = mor.current_version()
    assert mor.delete_keys(victims, on=["id"], mode="merge-on-read") == 0
    assert mor.current_version() == v
    # compaction materializes the deletes; contents unchanged
    before = rows(mor)
    mor.compact()
    assert not mor._read_snapshot(mor.current_version())["delete_files"]
    assert rows(mor) == before
    with __import__("pytest").raises(ValueError, match="unknown delete mode"):
        mor.delete_keys(victims, on=["id"], mode="bogus")


def test_cow_delete_shares_the_match_scan(spark, tmp_path):
    """One match scan serves both delete modes: its distinct files are
    the copy-on-write victims, so a COW takedown of 1% scattered keys
    runs at most one Spark job more than its MOR twin (the rewrite) and
    records its mode like MOR deletes and merges do."""
    df = spark.range(20000).select(F.col("id"), (F.col("id") * 7 % 13).alias("v"))
    victims = spark.range(20000).filter(F.col("id") % 100 == 1).select("id")
    jobs, summaries = {}, {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = SnapshotTable(spark, str(tmp_path / mode))
        t.create_or_replace(df.repartition(16), 16)
        assert len(t._read_snapshot(t.current_version())["files"]) == 16
        jobs[mode] = _jobs(spark, lambda: t.delete_keys(victims, on=["id"], mode=mode))
        summaries[mode] = t._read_snapshot(t.current_version())["summary"]
        assert t.read().count() == 19800
    assert summaries["copy-on-write"]["mode"] == "copy-on-write"
    assert summaries["copy-on-write"]["deleted_rows"] == 200
    assert summaries["copy-on-write"]["rewritten_files"] == 16
    assert jobs["copy-on-write"] <= jobs["merge-on-read"] + 1, jobs


def test_apply_deletes_merge_on_read_declassifies_and_compacts(spark, tmp_path):
    """MOR takedown through the whole dedup family: one equality-delete
    file per artifact instead of rewriting the scattered band
    partitions, identical classifications (reads are MOR-aware), and
    compact() materializes the deletes away."""
    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
        index_partitions=4,
    )
    receipt = state.apply_deletes(_ids(spark, [1]), mode="merge-on-read")
    assert receipt == {"fingerprint_rows": 1, "band_rows": 16}
    snap = state.bands._read_snapshot(state.bands.current_version())
    assert snap["summary"]["rewritten_files"] == 0
    assert snap["delete_files"]
    kept_lookup = _docs(spark, CORPUS[1:])
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, _docs(spark, [(201, CORPUS[0][1])]), kept_lookup,
        "doc_id", "text", append_new=False,
    ).collect()}
    assert got == {201: "new"}  # MOR-aware index read forgot doc 1
    state.compact()
    assert not state.bands._read_snapshot(
        state.bands.current_version()
    )["delete_files"]
    got = {r["id"]: r["status"] for r in incremental_neardup_dedup(
        state, _docs(spark, [(202, CORPUS[1][1])]), kept_lookup,
        "doc_id", "text", append_new=False,
    ).collect()}
    assert got == {202: "exact_dup"}  # kept content intact post-compact


def test_bucketed_lookup_delete_merge_on_read(spark, tmp_path):
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )
    assert lk.delete(_ids(spark, [1, 3]), mode="merge-on-read") == 2
    assert lk.read().count() == 2
    assert lk.fetch(_ids(spark, [1])).filter(
        F.col("doc_id") == 1
    ).count() == 0
    lk.compact()
    assert lk.read().count() == 2


# --------------------------------------------------------- durable ledger
def _mini_ann(spark, tmp_path, sub=""):
    from iceberg_evaluation_spark.operators.ann_state import build_ann_state

    corpus = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda p: (
                F.when((p % 4) == F.col("id") % 4, 1.0).otherwise(0.0)
                + (F.col("id") * (p + 1) % 97) / 970.0
            ),
        ).alias("embedding"),
    )
    return build_ann_state(
        spark, corpus, str(tmp_path / f"cent{sub}"),
        str(tmp_path / f"assign{sub}"), id_col="doc_id", n_cells=4,
    )


def test_takedown_ledger_records_resumes_and_rerun_touches_nothing(
    spark, tmp_path
):
    """r10 verdict #3: the completion evidence must survive the process.
    A ledgered propagation records one row per artifact; re-running the
    SAME takedown reads 'already complete' from the ledger and touches
    no artifact (no read, no commit — versions frozen); the receipt
    reports the ledger's recorded numbers."""
    from iceberg_evaluation_spark.operators.takedown import (
        takedown_fingerprint,
    )
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
    )
    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )
    ast = _mini_ann(spark, tmp_path)
    ledger = SnapshotTable(spark, str(tmp_path / "ledger"))
    ids = _ids(spark, [1, 3])

    receipt = propagate_takedown(
        ids, dedup_state=state, ann_state=ast, lookups=[lk], ledger=ledger
    )
    assert receipt["takedown_id"] == takedown_fingerprint(ids)
    assert receipt["skipped"] == []
    assert receipt["ann_rows"] == 2
    rows = {
        (r["artifact"], r["removed"]) for r in ledger.read().collect()
    }
    assert rows == {
        ("dedup", receipt["dedup"]["fingerprint_rows"]
         + receipt["dedup"]["band_rows"]),
        ("ann", 2),
        ("lookup_0", 2),
    }

    versions = (
        state.fingerprints.current_version(),
        state.bands.current_version(),
        ast.assignments.current_version(),
        lk.table.current_version(),
    )
    again = propagate_takedown(
        ids, dedup_state=state, ann_state=ast, lookups=[lk], ledger=ledger
    )
    assert sorted(again["skipped"]) == ["ann", "dedup", "lookup_0"]
    # the re-run reports the LEDGER's numbers, not zeros: it never
    # re-scanned the artifacts
    assert again["dedup"] == receipt["dedup"]
    assert again["ann_rows"] == 2 and again["lookup_0_rows"] == 2
    assert versions == (
        state.fingerprints.current_version(),
        state.bands.current_version(),
        ast.assignments.current_version(),
        lk.table.current_version(),
    )
    # order-independence of the fingerprint: same id set, one ledger key
    assert takedown_fingerprint(_ids(spark, [3, 1, 3])) == receipt[
        "takedown_id"
    ]
    # a DIFFERENT takedown does not resume from this one
    other = propagate_takedown(
        _ids(spark, [2]), dedup_state=state, ledger=ledger
    )
    assert other["skipped"] == [] and other["takedown_id"] != receipt[
        "takedown_id"
    ]


def test_takedown_ledger_resumes_after_crash_mid_propagation(
    spark, tmp_path
):
    """Crash between artifacts: the completed legs are in the ledger,
    the crashed-and-later legs are not. The resume skips the recorded
    legs (their tables see no new commit) and completes the rest."""
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
    )
    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )
    ast = _mini_ann(spark, tmp_path)
    ledger = SnapshotTable(spark, str(tmp_path / "ledger"))
    ids = _ids(spark, [1, 3])

    class _CrashingAnn:
        def delete(self, _ids, mode="copy-on-write"):
            raise RuntimeError("simulated crash mid-propagation")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        propagate_takedown(
            ids, dedup_state=state, ann_state=_CrashingAnn(),
            lookups=[lk], ledger=ledger,
        )
    # dedup completed and was recorded; ann/lookup never ran
    assert {r["artifact"] for r in ledger.read().collect()} == {"dedup"}
    fp_v = state.fingerprints.current_version()
    band_v = state.bands.current_version()

    resumed = propagate_takedown(
        ids, dedup_state=state, ann_state=ast, lookups=[lk], ledger=ledger
    )
    assert resumed["skipped"] == ["dedup"]
    # the dedup leg was not touched on resume
    assert state.fingerprints.current_version() == fp_v
    assert state.bands.current_version() == band_v
    assert resumed["dedup"]["fingerprint_rows"] == 2
    assert resumed["ann_rows"] == 2 and resumed["lookup_0_rows"] == 2
    assert {r["artifact"] for r in ledger.read().collect()} == {
        "dedup", "ann", "lookup_0",
    }
    # third run: everything already complete
    final = propagate_takedown(
        ids, dedup_state=state, ann_state=ast, lookups=[lk], ledger=ledger
    )
    assert sorted(final["skipped"]) == ["ann", "dedup", "lookup_0"]


def test_propagate_takedown_mor_routes_ann_leg(spark, tmp_path):
    """mode='merge-on-read' now reaches the ANN inverted lists too (r10
    verdict #1): the ANN purge lands as an equality-delete commit, and
    the probe path through the live delete files excludes the victims."""
    ast = _mini_ann(spark, tmp_path)
    ids = _ids(spark, [0, 4, 8, 12])
    receipt = propagate_takedown(ids, ann_state=ast, mode="merge-on-read")
    assert receipt["ann_rows"] == 4
    snap = ast.assignments._read_snapshot(
        ast.assignments.current_version()
    )
    assert snap["summary"]["rewritten_files"] == 0
    assert snap.get("delete_files")
    q = spark.range(1).select(
        F.lit(0).alias("query_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda p: F.when(p % 4 == 0, 1.0).otherwise(0.0),
        ).alias("embedding"),
    )
    got = ast.topk(q, k=10, nprobe=4).collect()
    assert got and all(r["doc_id"] not in (0, 4, 8, 12) for r in got)


def test_takedown_audit_counts_leaks_and_reads_pruned(spark, tmp_path):
    """takedown_audit is the content half of the compliance story: it
    counts rows each artifact still holds for the id set. Before the
    propagation it reports the exact leak multiplicities (1 fp + 16
    band rows per doc, 1 lookup row, 1 ANN row); after a MERGE-ON-READ
    propagation — delete files still live, nothing materialized — it
    reports all-zero, because every read is MOR-aware."""
    from iceberg_evaluation_spark.operators.takedown import takedown_audit
    from iceberg_evaluation_spark.tables.bucketed_lookup import BucketedLookup

    state = build_dedup_state(
        spark, _docs(spark, CORPUS), "doc_id", "text",
        str(tmp_path / "fp"), str(tmp_path / "bands"),
    )
    lk = BucketedLookup.create(
        spark, _docs(spark, CORPUS), str(tmp_path / "lk"),
        "doc_id", "text", n_buckets=8,
    )
    ast = _mini_ann(spark, tmp_path)
    ids = _ids(spark, [1, 3])

    before = takedown_audit(
        ids, dedup_state=state, ann_state=ast, lookups=[lk]
    )
    assert before == {"dedup": 2 + 32, "ann": 2, "lookup_0": 2}

    propagate_takedown(
        ids, dedup_state=state, ann_state=ast, lookups=[lk],
        mode="merge-on-read",
    )
    # delete files live (no compact/maintain ran) — audit reads through
    assert ast.assignments._read_snapshot(
        ast.assignments.current_version()
    ).get("delete_files")
    after = takedown_audit(
        ids, dedup_state=state, ann_state=ast, lookups=[lk]
    )
    assert after == {"dedup": 0, "ann": 0, "lookup_0": 0}
    # a KEPT id still counts — the audit is scoped, not vacuous
    kept = takedown_audit(_ids(spark, [2]), dedup_state=state, lookups=[lk])
    assert kept == {"dedup": 17, "lookup_0": 1}
