"""CDC curation operators: bulk insert and SCD2 maintenance (SURVEY §2.4).

Re-expresses the reference's Glue/Athena twin implementations
(``src/data_curation/glue_jobs/pyspark_functions.py:21-251`` and
``athena_functions.py:56-303``) as schema-generic DataFrame logic over the
snapshot table layer. Design fix over the reference: MERGE column lists
are derived from ``df.schema`` instead of 29 hardcoded columns
(pyspark_functions.py:54-135 repeats the list four times).

SCD2 model (reference docs/README.md:94-99): every row carries
``start_datetime`` (= its extraction timestamp), ``end_datetime`` (= next
version's start, or the 2250-01-01 sentinel) and ``is_current``.

Every merging operator writes through :meth:`SnapshotTable.merge`'s
default ``mode="auto"``, which picks merge-on-read for deltas small
next to the files they touch and copy-on-write for restatements;
:func:`scd2_complex` also takes ``mode`` to force one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..tables.snapshot_table import MergeClause, SnapshotTable

__all__ = [
    "SENTINEL_TS",
    "add_scd2_columns",
    "bulk_insert",
    "scd2_simple",
    "scd2_complex",
    "dedup_latest",
    "merge_delete_aware",
    "synthesize_updates",
]

#: open-interval sentinel (reference pyspark_functions.py:314)
SENTINEL_TS = "2250-01-01 00:00:00"


def add_scd2_columns(df: DataFrame, ts_col: str = "extraction_timestamp") -> DataFrame:
    """M1 projection: start/end/is_current appended
    (reference pyspark_functions.py:26-29)."""
    return (
        df.withColumn("start_datetime", F.col(ts_col))
        .withColumn("end_datetime", F.lit(SENTINEL_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def bulk_insert(
    table: SnapshotTable,
    full_load: DataFrame,
    ts_col: str = "extraction_timestamp",
    partitions: int | None = None,
) -> int:
    """M1: full load + SCD2 columns → create/replace
    (reference pyspark_functions.py:21-31). ``partitions`` sets the file
    count — size it so per-file rewrite cost and MERGE file-pruning both
    stay useful at the target scale."""
    return table.create_or_replace(add_scd2_columns(full_load, ts_col), partitions)


def _value_cols(df: DataFrame, keys: list[str], ts_col: str) -> list[str]:
    scd2 = {"start_datetime", "end_datetime", "is_current"}
    return [c for c in df.columns if c not in set(keys) | scd2 | {ts_col}]


def scd2_simple(
    table: SnapshotTable,
    updates: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "extraction_timestamp",
) -> int:
    """M2: single in-order delta batch (reference pyspark_functions.py:40-137).

    source = new updates (open intervals) ∪ current target rows being
    superseded (re-dated: end = update's ts, is_current = false); MERGE on
    (keys…, ts): MATCHED → close out, NOT MATCHED → insert.
    """
    keys = keys or ["pk"]
    new_rows = add_scd2_columns(updates, ts_col)

    current = table.read().filter(F.col("is_current"))
    upd_keyed = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        F.col(ts_col).alias("__u_ts"),
    )
    join_cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__u_{k}")
        join_cond = c if join_cond is None else (join_cond & c)
    closeouts = (
        current.join(upd_keyed, join_cond, "inner")
        .withColumn("end_datetime", F.col("__u_ts"))
        .withColumn("is_current", F.lit(False))
        .drop("__u_ts", *[f"__u_{k}" for k in keys])
        .select(*new_rows.columns)
    )
    source = new_rows.unionByName(closeouts)
    # matched rows take ALL source columns, not just end/is_current: for
    # the reference's cases (closeout re-dating) this is identical — the
    # closeout row carries the target's own values — and it additionally
    # gives re-delivered versions (same pk+ts, corrected values)
    # last-write-wins semantics instead of silently keeping stale data
    update_all = {c: f"s.{c}" for c in new_rows.columns if c not in keys + [ts_col]}
    return table.merge(
        source,
        on=keys + [ts_col],
        clause=MergeClause(matched_update=update_all),
    )


def scd2_complex(
    table: SnapshotTable,
    updates: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "extraction_timestamp",
    mode: str = "auto",
) -> int:
    """M3: multiple and/or late-arriving updates per key
    (reference pyspark_functions.py:142-251).

    All history rows sharing a key with the batch are unioned with the new
    rows and re-sliced with LEAD over (keys… ORDER BY ts); MERGE writes
    back only changed intervals plus brand-new rows.
    """
    keys = keys or ["pk"]
    target = table.read()
    upd_keys = updates.select(*keys).distinct()
    affected_hist = target.join(upd_keys, keys, "left_semi")

    incoming = add_scd2_columns(updates, ts_col).select(*target.columns)
    # incoming wins over an existing history row with the same (keys, ts):
    # keeps the merge-key unique (cardinality rule) and makes re-applying
    # a batch idempotent
    t1 = (
        affected_hist.withColumn("__pri", F.lit(0))
        .unionByName(incoming.withColumn("__pri", F.lit(1)))
    )
    w_dedup = W.partitionBy(*keys, ts_col).orderBy(F.col("__pri").desc())
    t1 = (
        t1.withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__pri")
    )

    w = W.partitionBy(*keys).orderBy(ts_col)
    sentinel = F.lit(SENTINEL_TS).cast("timestamp")
    end = F.lead(ts_col, 1, SENTINEL_TS).over(w)
    t2 = (
        t1.withColumn("end_datetime", end)
        .withColumn("is_current", F.col("end_datetime") == sentinel)
        .withColumn("start_datetime", F.col(ts_col))
    )
    # see scd2_simple: full-column update on match = reference behavior
    # for interval re-slicing plus last-write-wins on re-delivered versions
    update_all = {c: f"s.{c}" for c in t2.columns if c not in keys + [ts_col]}
    return table.merge(
        t2,
        on=keys + [ts_col],
        clause=MergeClause(matched_update=update_all),
        mode=mode,
    )


def dedup_latest(
    df: DataFrame, keys: list[str], order_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """M4: newest record per key (reference notebook cell 26
    ``row_number() OVER (PARTITION BY id ORDER BY date_received DESC)``)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def merge_delete_aware(
    table: SnapshotTable,
    updates: DataFrame,
    keys: list[str],
    deleted_col: str = "record_deleted",
    changed_condition: str | None = None,
) -> int:
    """M5: delete-aware conditional MERGE (reference notebook cell 26):
    MATCHED AND s.deleted → DELETE; MATCHED [AND changed] → UPDATE all
    columns; NOT MATCHED [AND NOT deleted] → INSERT."""
    target_cols = table.read().columns
    update_set = {c: f"s.{c}" for c in target_cols if c in updates.columns}
    return table.merge(
        updates,
        on=keys,
        clause=MergeClause(
            matched_delete_condition=f"s.{deleted_col}",
            matched_update=update_set,
            matched_update_condition=changed_condition,
            insert_when_not_matched=True,
            insert_condition=f"NOT s.{deleted_col}",
        ),
    )


def synthesize_updates(
    df: DataFrame,
    proportion: float,
    keys: list[str],
    ts_col: str = "extraction_timestamp",
    mutate_col: str | None = None,
    mutate_value=1,
    seed: int = 1,
) -> DataFrame:
    """M6: fabricate a CDC update batch by sampling the base table
    (reference update_tpcds.py:56-62): bump the extraction timestamp one
    day, set op='U', overwrite one value column."""
    out = (
        df.sample(False, proportion, seed=seed)
        .withColumn(ts_col, F.col(ts_col) + F.expr("INTERVAL 1 DAY"))
        .withColumn("op", F.lit("U"))
    )
    if mutate_col is not None:
        out = out.withColumn(mutate_col, F.lit(mutate_value))
    return out
