"""Curation corpus: the reference's SCD2/CDC surface re-expressed as
deterministic transforms over the driver testdata (SURVEY.md §2.4).

The CDC feed is synthesized deterministically from ``orders``/``lineitem``
(no sampling) so every query has a stable result and, where the semantics
are relational, an exact DuckDB oracle. The full table-layer pipeline
(bulk insert → MERGE per batch, q44) is checked against the *windowed
rebuild* oracle — if the incremental MERGE path diverges from the
declarative SCD2 definition, the hashes split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.keys import composite_pk
from ..sources import load_table
from ._exact import exact_sum, sql_sum
from ._tmpdirs import scratch_dir
from .registry import register

#: SCD2 open-interval sentinel (reference pyspark_functions.py:314)
SENTINEL = "2250-01-01 00:00:00"


def _versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC-shaped version feed: each lineitem row is a
    'version' of its order (pk = l_orderkey, ts = l_shipdate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("pk"),
        F.col("l_shipdate").alias("extraction_timestamp"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_linenumber"),
    )


# ---------------------------------------------------------------------------
# q40: SCD2 complex re-slice as a pure transform (M3 core: LEAD window)
#      ref pyspark_functions.py:214-226 / athena_functions.py:267-268
# ---------------------------------------------------------------------------
@register(
    "q40_scd2_rebuild",
    covers="M3 W5 P2 P5",
    oracle=f"""
WITH versions AS (
  SELECT l_orderkey AS pk, l_shipdate AS extraction_timestamp,
         l_quantity AS quantity, l_extendedprice AS price, l_linenumber
  FROM lineitem
)
SELECT pk, extraction_timestamp, quantity, price,
       extraction_timestamp AS start_datetime,
       lead(extraction_timestamp, 1, TIMESTAMP '{SENTINEL}')
         OVER w AS end_datetime,
       (lead(extraction_timestamp, 1, TIMESTAMP '{SENTINEL}')
         OVER w = TIMESTAMP '{SENTINEL}') AS is_current
FROM versions
-- order must be TOTAL: the testdata contains duplicate
-- (orderkey, shipdate, linenumber) rows, so value columns join the key
WINDOW w AS (PARTITION BY pk
             ORDER BY extraction_timestamp, l_linenumber, quantity, price)
""",
)
def q40_scd2_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _versions(spark, sf_dir)
    # total order: (ts, linenumber) alone is not unique in the testdata
    w = W.partitionBy("pk").orderBy(
        "extraction_timestamp", "l_linenumber", "quantity", "price"
    )
    sentinel = F.lit(SENTINEL).cast("timestamp")
    end = F.lead("extraction_timestamp", 1, SENTINEL).over(w)
    return v.select(
        "pk",
        "extraction_timestamp",
        "quantity",
        "price",
        F.col("extraction_timestamp").alias("start_datetime"),
        end.alias("end_datetime"),
        (end == sentinel).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q41: latest-record dedup (M4; ref updating_db_with_deltas notebook cell 26)
# ---------------------------------------------------------------------------
@register(
    "q41_latest_event_per_user",
    covers="M4 W1",
    oracle="""
SELECT user_id, event_id AS latest_event_id, event_type, round(value, 2) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def q41_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# q42: synthetic composite pk (M7; ref generate_tpcds.py:144-146)
# ---------------------------------------------------------------------------
@register(
    "q42_composite_pk",
    covers="M7 P2",
    oracle="""
SELECT o_orderkey, o_custkey,
       md5(concat_ws('-', o_orderkey, o_custkey, o_orderstatus)) AS pk
FROM orders
""",
)
def q42_composite_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        composite_pk("o_orderkey", "o_custkey", "o_orderstatus").alias("pk"),
    )


# ---------------------------------------------------------------------------
# q43: CDC update-set synthesis (M6; ref update_tpcds.py:56-62).
#      Deterministic variant: modulo selection instead of Bernoulli sample
#      (df.sample is partition-layout-dependent → not oracle-comparable).
# ---------------------------------------------------------------------------
@register(
    "q43_update_synthesis",
    covers="M6 P2 P4 P5",
    oracle="""
SELECT o_orderkey AS pk,
       o_orderdate + INTERVAL 1 DAY AS extraction_timestamp,
       'U' AS op,
       1 AS o_quantity_override,
       -- integer half-up: o_totalprice*1.05 is a 4dp value whose .xx5
       -- midpoints round differently across engines (see plans/_exact.py)
       (((CAST(round(o_totalprice * 1.05 * 10000, 0) AS BIGINT) + 50)
         - (CAST(round(o_totalprice * 1.05 * 10000, 0) AS BIGINT) + 50) % 100) / 100)
       / 100.0 AS o_totalprice
FROM orders
WHERE o_orderkey % 100 < 10
""",
)
def q43_update_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 100 < 10)
        .select(
            F.col("o_orderkey").alias("pk"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias(
                "extraction_timestamp"
            ),
            F.lit("U").alias("op"),
            F.lit(1).alias("o_quantity_override"),
            _halfup_cents(F.col("o_totalprice") * 1.05).alias("o_totalprice"),
        )
    )


def _halfup_cents(expr):
    """Per-row round-half-up to 2dp via exact integers (portable across
    engine midpoint-rounding differences, see plans/_exact.py)."""
    c4 = F.round(expr * 10000, 0).cast("bigint") + 50
    return ((c4 - c4 % 100) / 100) / 100.0


# ---------------------------------------------------------------------------
# q44: the FULL curation pipeline through the snapshot table layer —
#      bulk insert (M1) → in-order MERGE batch (M2/M3) → late-arriving
#      MERGE batch (M3) — hash-checked against the declarative windowed
#      rebuild. If the incremental merge machinery (file pruning, COW,
#      clause logic) diverges from SCD2 semantics, this query's oracle
#      comparison fails. ref: pyspark_functions.py:21-251 end-to-end.
# ---------------------------------------------------------------------------
def _cdc_feed(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderdate").alias("extraction_timestamp"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(None).cast("string").alias("op"),
    )
    batch1 = (
        orders.filter(F.col("o_orderkey") % 100 < 10)
        .select(
            F.col("o_orderkey").alias("pk"),
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias(
                "extraction_timestamp"
            ),
            (F.col("o_totalprice") * 1.1).alias("price"),
            F.lit("X").alias("status"),
            F.lit("U").alias("op"),
        )
    )
    # late arrival: lands BETWEEN the full load and batch1
    batch2 = (
        orders.filter(F.col("o_orderkey") % 100 < 5)
        .select(
            F.col("o_orderkey").alias("pk"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias(
                "extraction_timestamp"
            ),
            (F.col("o_totalprice") * 0.9).alias("price"),
            F.lit("L").alias("status"),
            F.lit("U").alias("op"),
        )
    )
    return base, batch1, batch2


@register(
    "q44_scd2_table_pipeline",
    covers="M1 M2 M3 M5-shape J2 O3 S5 S7 W5 table-layer",
    oracle=f"""
WITH feed AS (
  SELECT o_orderkey AS pk, o_orderdate AS extraction_timestamp,
         o_totalprice AS price, o_orderstatus AS status,
         CAST(NULL AS VARCHAR) AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderdate + INTERVAL 90 DAY, o_totalprice * 1.1, 'X', 'U'
  FROM orders WHERE o_orderkey % 100 < 10
  UNION ALL
  SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, o_totalprice * 0.9, 'L', 'U'
  FROM orders WHERE o_orderkey % 100 < 5
)
SELECT pk, extraction_timestamp, price, status, op,
       extraction_timestamp AS start_datetime,
       lead(extraction_timestamp, 1, TIMESTAMP '{SENTINEL}') OVER w AS end_datetime,
       (lead(extraction_timestamp, 1, TIMESTAMP '{SENTINEL}') OVER w
        = TIMESTAMP '{SENTINEL}') AS is_current
FROM feed
WINDOW w AS (PARTITION BY pk ORDER BY extraction_timestamp)
""",
)
def q44_scd2_table_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import bulk_insert, scd2_complex
    from ..tables.snapshot_table import SnapshotTable

    base, batch1, batch2 = _cdc_feed(spark, sf_dir)
    table = SnapshotTable(spark, scratch_dir(prefix="scd2_pipeline_"))
    bulk_insert(table, base, partitions=spark.sparkContext.defaultParallelism)
    scd2_complex(table, batch1)
    scd2_complex(table, batch2)
    return table.read().select(
        "pk",
        "extraction_timestamp",
        "price",
        "status",
        "op",
        "start_datetime",
        "end_datetime",
        "is_current",
    )


# ---------------------------------------------------------------------------
# q47: snapshot history + timestamp/version time travel through the table
#      layer (S9/S10; ref updating_db_with_deltas_iceberg.ipynb cells
#      41-43: $history scan + FOR TIMESTAMP AS OF). The table is built
#      from orders (v1), an append creates v2, and the query reads v1
#      back via time travel — the oracle rebuilds v1 declaratively, so a
#      time-travel read that leaks v2 rows (or loses v1 rows) hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q47_time_travel",
    covers="S7 S9 S10 table-layer A1",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       2 AS n_snapshots,
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0) AS BIGINT)
         AS appended_rows
FROM orders
""",
)
def q47_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    orders = load_table(spark, sf_dir, "orders")
    table = SnapshotTable(spark, scratch_dir(prefix="timetravel_"))
    table.create_or_replace(
        orders, partitions=spark.sparkContext.defaultParallelism
    )  # v1
    table.append(orders.filter(F.col("o_orderkey") % 10 == 0))  # v2
    n_snapshots = table.history().count()
    v1 = table.read(version=1)
    v2 = table.read()  # current
    appended = v2.count() - v1.count()
    return v1.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.lit(n_snapshots).cast("int").alias("n_snapshots"),
        F.lit(appended).cast("bigint").alias("appended_rows"),
    )


# ---------------------------------------------------------------------------
# q48: bin-pack compaction (M8; ref OPTIMIZE … REWRITE DATA USING
#      BIN_PACK, notebook cell 45). Two writes fragment the table into
#      2×parallelism files; compaction rewrites them into size-targeted
#      files. The oracle pins both the surviving data (sum/count over the
#      doubled keys) and the file counts before/after, so a compaction
#      that drops or duplicates rows — or doesn't actually reduce the
#      file count — hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q48_compaction",
    covers="M8 S5 S7 table-layer A1",
    oracle="""
WITH doubled AS (
  SELECT o_orderkey FROM orders
  UNION ALL
  SELECT o_orderkey FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       32 AS files_before,
       1 AS files_after
FROM doubled
""",
)
def q48_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    keys = load_table(spark, sf_dir, "orders").select("o_orderkey")
    table = SnapshotTable(spark, scratch_dir(prefix="compact_"))
    table.create_or_replace(keys, partitions=16)
    table.append(keys.repartition(16))
    files_before = len(table._read_snapshot(table.current_version())["files"])
    table.compact(target_file_mb=128)  # sf0.1 keys ≪ 128 MB → 1 file
    files_after = len(table._read_snapshot(table.current_version())["files"])
    return table.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.lit(files_before).cast("int").alias("files_before"),
        F.lit(files_after).cast("int").alias("files_after"),
    )


# ---------------------------------------------------------------------------
# q49: partitioned parquet sink + partition-pruned scan-back (S6; ref
#      generate_tpcds.py:164-172 — Glue parquet sink partitioned on the
#      date surrogate key, partitions declared in utils/metadata/*.json).
#      Writes lineitem partitioned by l_returnflag, reads ONE partition
#      back; the oracle computes the same slice from the source table, so
#      a partition mix-up (rows landing in the wrong directory, or the
#      pruned read leaking other partitions) hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q49_partitioned_sink",
    covers="S6 S1 A1 P3",
    oracle="""
SELECT l_linestatus,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""",
)
def q49_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_returnflag"
    )
    out = scratch_dir(prefix="part_sink_")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # scan-back with a partition filter: Catalyst prunes to the one
    # l_returnflag=R directory (PartitionFilters in the plan)
    return (
        spark.read.parquet(out)
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_orderkey").alias("key_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q50: CSV source with explicit schema (S4; ref tutorial employees feed,
#      create_dummy_deltas.py:6). Round-trips orders through CSV —
#      explicit schema, no inference double-scan — and aggregates; the
#      oracle aggregates the parquet source directly, so any CSV
#      serialization drift (dates, quoting, nulls) hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q50_csv_source",
    covers="S4 S1 A1 P5",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(min(o_orderdate) AS DATE) AS first_date
FROM orders
GROUP BY o_orderstatus
""",
)
def q50_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import read_csv

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    out = scratch_dir(prefix="csv_src_")
    orders.write.mode("overwrite").option("header", "true").csv(out)
    back = read_csv(
        spark,
        out,
        schema="o_orderkey BIGINT, o_orderstatus STRING, o_orderdate DATE",
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
        F.min("o_orderdate").alias("first_date"),
    )


# ---------------------------------------------------------------------------
# q85: Z-ORDER data-layout rewrite (Iceberg rewrite_data_files
#      sort/zorder strategy; Delta OPTIMIZE ZORDER BY). The table is
#      created hash-scattered, then rewritten clustered on the
#      interleaved-bit Z-value of (o_custkey, o_totalprice) — after the
#      rewrite each file carries a tight min/max bounding box over BOTH
#      columns, so predicates on either prune files (the multi-dim
#      layout win; clustering quality is pinned by
#      tests/test_snapshot_table.py::test_compaction_zorder_clusters_files).
#      The oracle checks the rewrite is content-neutral: same rows, same
#      sums, expected file counts — any row lost/duplicated/mutated by
#      the layout shuffle hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q85_zorder_compaction",
    covers="M8 S5 table-layer A1 P5",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       {sql_sum('o_totalprice')} AS price_sum,
       16 AS files_before,
       8 AS files_after
FROM orders
""",
)
def q85_zorder_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="zorder_"))
    table.create_or_replace(src, partitions=16)
    files_before = len(table._read_snapshot(table.current_version())["files"])
    table.compact(
        strategy="zorder", zorder_by=["o_custkey", "o_totalprice"], target_files=8
    )
    files_after = len(table._read_snapshot(table.current_version())["files"])
    return table.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("custkey_sum"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
        F.lit(files_before).cast("int").alias("files_before"),
        F.lit(files_after).cast("int").alias("files_after"),
    )


# ---------------------------------------------------------------------------
# q86: incremental append scan + schema evolution (Iceberg incremental
#      read / ALTER TABLE ADD COLUMN). The table is built in three
#      batches split by o_orderkey % 3; between batch 2 and 3 the schema
#      evolves (add_column 'chan'), and batch 3 carries the new column.
#      read_incremental(1) must return EXACTLY the rows of batches 2+3
#      under the evolved schema — batch-2 rows read NULL in 'chan'
#      (written before the evolution), batch-3 rows carry 'late'. Any
#      leakage of batch 1, lost/duplicated incremental rows, or
#      mis-projected schema hash-fails against the oracle's partition
#      of the same source table.
# ---------------------------------------------------------------------------
@register(
    "q86_incremental_scan",
    covers="S9 S10 S7 table-layer A1 P5",
    oracle="""
SELECT CAST(NULL AS VARCHAR) AS chan,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 3 = 1
UNION ALL
SELECT 'late' AS chan,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 3 = 2
""",
)
def q86_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    keys = load_table(spark, sf_dir, "orders").select("o_orderkey")
    table = SnapshotTable(spark, scratch_dir(prefix="incr_"))
    table.create_or_replace(keys.filter(F.col("o_orderkey") % 3 == 0))   # v1
    table.append(keys.filter(F.col("o_orderkey") % 3 == 1))              # v2
    table.add_column("chan", "string")                                   # v3
    table.append(                                                        # v4
        keys.filter(F.col("o_orderkey") % 3 == 2).withColumn(
            "chan", F.lit("late")
        )
    )
    return table.read_incremental(1).groupBy("chan").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# q87: snapshot rollback (Iceberg rollback_to_snapshot). Build two
#      batches, roll back to the first, and read — the result must be
#      EXACTLY the pre-append state while history keeps all three
#      snapshots (create, append, rollback) and the rolled-back state
#      stays time-travel-readable. Any leakage of batch-2 rows through
#      the rollback, or a rollback that mutates rather than re-points
#      files, hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q87_rollback",
    covers="S9 S10 S7 table-layer A1",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       3 AS n_snapshots,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows_pre_rollback
FROM orders WHERE o_orderkey % 2 = 0
""",
)
def q87_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    keys = load_table(spark, sf_dir, "orders").select("o_orderkey")
    table = SnapshotTable(spark, scratch_dir(prefix="rollback_"))
    table.create_or_replace(keys.filter(F.col("o_orderkey") % 2 == 0))  # v1
    table.append(keys.filter(F.col("o_orderkey") % 2 == 1))             # v2
    table.rollback(1)                                                   # v3
    n_snapshots = table.history().count()
    pre = table.read(version=2).count()  # time travel across the rollback
    return table.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.lit(n_snapshots).cast("int").alias("n_snapshots"),
        F.lit(pre).cast("bigint").alias("n_rows_pre_rollback"),
    )


# ---------------------------------------------------------------------------
# q101: stats-pruned scan (Iceberg manifest min/max file pruning) — the
#       READ-side half of q85's Z-order story, under the correctness
#       gate. The table is created hash-scattered, Z-order-rewritten on
#       (o_custkey, o_totalprice), then scanned through read_where with
#       a two-sided custkey band + totalprice floor: footer stats prune
#       files driver-side, the surviving files get the identical
#       row-level predicate, and the oracle replays the same filter over
#       the raw orders table — any pruning unsoundness (a dropped file
#       that held matching rows) hash-fails. File-count assertions live
#       in tests/test_snapshot_table.py (data-layout dependent, not
#       cross-engine); the driver checks RESULT exactness.
# ---------------------------------------------------------------------------
@register(
    "q101_stats_pruned_scan",
    covers="table-layer S5 M8 P3 A1 P5",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       {sql_sum('o_totalprice')} AS price_sum
FROM orders
WHERE o_custkey BETWEEN 100 AND 400 AND o_totalprice >= 50000
""",
)
def q101_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="pruned_"))
    table.create_or_replace(src, partitions=16)
    table.compact(
        strategy="zorder", zorder_by=["o_custkey", "o_totalprice"], target_files=8
    )
    pruned = table.read_where(
        [("o_custkey", "between", (100, 400)), ("o_totalprice", ">=", 50000)]
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
    )


# ---------------------------------------------------------------------------
# q102: merge-on-read curation pipeline (Iceberg v2 write.merge.mode=
#       merge-on-read) — the write-amplification answer to the
#       reference's failing 3 TB SCD2 case (BASELINE.md: Glue COW merge
#       rewrites every touched file; MOR writes only changed rows plus
#       an equality-delete file). Two MOR merges run against the table
#       (an update wave, then a delete wave); the oracle replays both
#       waves over raw orders, and the emitted rewritten_files=0 pins
#       that no data file was rewritten on the write path. Read-side
#       equality-delete semantics (sequence numbers, post-image
#       survival) are pinned by tests/test_merge_on_read.py.
# ---------------------------------------------------------------------------
@register(
    "q102_merge_on_read_pipeline",
    covers="M2 M5-shape table-layer S5 A1 P5",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
                     ELSE o_custkey END) AS BIGINT) AS custkey_sum,
       {sql_sum('o_totalprice')} AS price_sum,
       0 AS rewritten_files
FROM orders WHERE o_orderkey % 7 <> 0
""",
)
def q102_merge_on_read_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="mor_"))
    table.create_or_replace(src, partitions=8)

    updates = src.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + 1000000
    )
    table.merge(
        updates,
        on=["o_orderkey"],
        clause=MergeClause(matched_update={"o_custkey": "s.o_custkey"}),
        mode="merge-on-read",
    )
    deletes = src.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    table.merge(
        deletes,
        on=["o_orderkey"],
        clause=MergeClause(
            matched_update=None,
            matched_delete_condition="true",
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )
    rewritten = sum(
        s["summary"].get("rewritten_files", 0)
        for s in table._snapshots()
        if s["operation"] == "merge"
    )
    return table.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("custkey_sum"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
        F.lit(rewritten).cast("int").alias("rewritten_files"),
    )


# ---------------------------------------------------------------------------
# q103: identity-partitioned snapshot table (the reference's tables
#       partition on a date key — utils/metadata/store_sales.json:
#       105-107). Orders are CTAS'd partitioned by order year; the
#       scan-back goes through read_where, whose manifest partition
#       pruning restricts the file list to the one year directory
#       WITHOUT footer reads, then applies the same predicate row-level.
#       Oracle replays the filter over raw orders — any pruning
#       unsoundness or partition-value round-trip error (NULL dirs,
#       typed parse) hash-fails. Layout/pruning internals are pinned by
#       tests/test_partitioned_table.py.
# ---------------------------------------------------------------------------
@register(
    "q103_partitioned_table_scan",
    covers="table-layer S5 S6 P3 A1 P5",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       {sql_sum('o_totalprice')} AS price_sum,
       min(o_orderdate) AS first_date
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1997 AND o_totalprice >= 1000
""",
)
def q103_partitioned_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).withColumn("o_year", F.year("o_orderdate"))
    table = SnapshotTable(spark, scratch_dir(prefix="part_"))
    table.create_or_replace(src, partitions=2, partition_by=["o_year"])
    pruned = table.read_where(
        [("o_year", "=", 1997), ("o_totalprice", ">=", 1000)]
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("custkey_sum"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
        F.min("o_orderdate").alias("first_date"),
    )


# ---------------------------------------------------------------------------
# q108: incrementally-maintained materialized rollup — the query-
#       acceleration composition (BASELINE's repeated-aggregate cost):
#       a sum/count rollup table folds in ONLY the appended rows via the
#       incremental append scan + a partial-aggregate MERGE, instead of
#       re-aggregating the base per refresh. last_delta_rows pins the
#       incremental cost receipt (= the FINAL wave's size — a refresh
#       that rescanned the base would return the full count and
#       hash-fail), and noop_refresh_rows = 0 pins that an up-to-date
#       rollup costs nothing. Money sums ride the cents trick
#       (plans/_exact.py) so the MERGE-folded totals are bit-exact.
# ---------------------------------------------------------------------------
@register(
    "q108_incremental_rollup",
    covers="table-layer S5 S7 M5-shape A1 A2 P5 incremental-view",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 3 = 0)
         AS last_delta_rows,
       CAST(0 AS BIGINT) AS noop_refresh_rows
FROM orders GROUP BY o_orderpriority
""",
)
def q108_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.rollup import MaterializedRollup
    from ..tables.snapshot_table import SnapshotTable
    from ._exact import cents

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q108_base_"))
    base.create_or_replace(orders.filter(F.col("o_orderkey") % 3 == 1))
    roll = MaterializedRollup(
        spark,
        scratch_dir(prefix="q108_roll_"),
        base,
        group_cols=["o_orderpriority"],
        sum_cols=["price_cents"],
    )
    roll.rebuild()
    base.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    roll.refresh()
    base.append(orders.filter(F.col("o_orderkey") % 3 == 0))
    n3 = roll.refresh()
    n_noop = roll.refresh()  # up to date: zero delta rows
    return roll.read().select(
        "o_orderpriority",
        "n_rows",
        F.col("sum_price_cents").cast("bigint").alias("sum_price_cents"),
        F.lit(n3).cast("bigint").alias("last_delta_rows"),
        F.lit(n_noop).cast("bigint").alias("noop_refresh_rows"),
    )


# ---------------------------------------------------------------------------
# q110: JSON + ORC source round-trips — S-family widening beyond the
#       reference's parquet/CSV: documents round-trips through
#       JSON-lines (schema-first read back, escaping-sensitive strings)
#       and orders through ORC (ints, doubles, timestamps). The check is
#       a per-row md5 fingerprint folded into a 48-bit integer sum over
#       EVERY column — any value the round-trip corrupts (escaping,
#       timestamp tz handling, double formatting) moves the sum. Doubles
#       ride the cents cast and timestamps epoch micros so the
#       fingerprint strings are engine-portable.
# ---------------------------------------------------------------------------
_Q110_DOC_FP = (
    "CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, "
    "n_chars)), 1, 8)) AS BIGINT)"
)
_Q110_ORD_FP = (
    "CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, "
    "o_orderstatus, CAST(round(o_totalprice * 100, 0) AS BIGINT), "
    "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'), "
    "o_orderpriority)), 1, 8)) AS BIGINT)"
)


@register(
    "q110_source_format_roundtrips",
    covers="S1 S4 json-orc-source A2 P5",
    oracle=f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS json_rows,
       (SELECT CAST(sum({_Q110_DOC_FP}) AS BIGINT) FROM documents) AS json_fp_sum,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS orc_rows,
       (SELECT CAST(sum({_Q110_ORD_FP}) AS BIGINT) FROM orders) AS orc_fp_sum
""",
)
def q110_source_format_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")

    json_dir = scratch_dir(prefix="q110_json_")
    docs.write.mode("overwrite").json(json_dir)
    docs_rt = spark.read.schema(docs.schema).json(json_dir)

    orc_dir = scratch_dir(prefix="q110_orc_")
    orders.write.mode("overwrite").orc(orc_dir)
    orders_rt = spark.read.schema(orders.schema).orc(orc_dir)

    doc_fp = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", "doc_id", "text", "lang", "source", "n_chars"
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    ord_fp = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey"),
                    F.col("o_custkey"),
                    F.col("o_orderstatus"),
                    F.round(F.col("o_totalprice") * 100, 0).cast("bigint"),
                    F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")

    j = docs_rt.agg(
        F.count(F.lit(1)).cast("bigint").alias("json_rows"),
        F.sum(doc_fp).cast("bigint").alias("json_fp_sum"),
    )
    o = orders_rt.agg(
        F.count(F.lit(1)).cast("bigint").alias("orc_rows"),
        F.sum(ord_fp).cast("bigint").alias("orc_fp_sum"),
    )
    return j.crossJoin(o)


# ---------------------------------------------------------------------------
# q113: schema evolution end-to-end (Iceberg ALTER TABLE semantics over
#       the snapshot layer): metadata-only ADD COLUMN (old rows read
#       NULL), MERGE backfill, append under the evolved schema, the
#       documented HONEST RENAME recipe (add new + backfill from the old
#       column + drop the old — name-mapped reads have no field ids, so
#       an in-place rename would orphan old data; snapshot_table.py
#       declines it explicitly), metadata-only DROP COLUMN, and
#       time-travel reads that still see every historical schema.
#       Every step's effect is pinned by an exact-computable column, so
#       a read that leaks dropped columns, loses the backfill, or
#       projects the wrong schema at a historical version hash-fails.
# ---------------------------------------------------------------------------
@register(
    "q113_schema_evolution",
    covers="schema-evolution S5 S7 S9 S10 M5-shape table-layer A1 A2 P5",
    oracle="""
SELECT CAST(3 AS INT) AS v1_cols,
       CAST(count(*) AS BIGINT) AS v1_rows,
       CAST(0 AS BIGINT) AS v2_backfilled,
       CAST(count(*) AS BIGINT) AS v3_backfilled,
       CAST(2 * count(*) AS BIGINT) AS final_rows,
       CAST(2 * sum(length(n_name)) AS BIGINT) AS sum_comment_len,
       CAST(2 * count(*) AS BIGINT) AS note_nonnull,
       CAST(4 AS INT) AS final_cols,
       CAST(7 AS INT) AS n_snapshots
FROM nation
""",
)
def q113_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    nation = load_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, scratch_dir(prefix="evolution_"))
    t.create_or_replace(nation, partitions=4)                        # v1
    v1_cols = len(t.read(version=1).columns)
    v1_rows = t.read(version=1).count()

    t.add_column("comment_len", "bigint")                            # v2
    v2_backfilled = t.read().agg(F.count("comment_len")).collect()[0][0]

    t.merge(                                                         # v3
        nation.select(
            "n_nationkey", F.length("n_name").cast("bigint").alias("comment_len")
        ),
        on=["n_nationkey"],
        clause=MergeClause(
            matched_update={"comment_len": "s.comment_len"},
            insert_when_not_matched=False,
        ),
    )
    v3_backfilled = t.read().agg(F.count("comment_len")).collect()[0][0]

    t.append(                                                        # v4
        nation.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            "n_name",
            "n_regionkey",
            F.length("n_name").cast("bigint").alias("comment_len"),
        )
    )

    # honest rename: n_name -> note (add + backfill-from-target + drop)
    t.add_column("note", "string")                                   # v5
    # the source is rebuilt from the INPUT keys, not t.read(): a merge
    # whose source shares the target's lineage is a self-join and the
    # "t."/"s." update expressions lose attribute identity
    all_keys = nation.select("n_nationkey").unionByName(
        nation.select((F.col("n_nationkey") + 100).alias("n_nationkey"))
    )
    t.merge(                                                         # v6
        all_keys,
        on=["n_nationkey"],
        clause=MergeClause(
            matched_update={"note": "t.n_name"},
            insert_when_not_matched=False,
        ),
    )
    t.drop_column("n_name")                                       # v7

    final = t.read()
    n_snapshots = t.history().count()
    return final.agg(
        F.lit(v1_cols).cast("int").alias("v1_cols"),
        F.lit(v1_rows).cast("bigint").alias("v1_rows"),
        F.lit(v2_backfilled).cast("bigint").alias("v2_backfilled"),
        F.lit(v3_backfilled).cast("bigint").alias("v3_backfilled"),
        F.count(F.lit(1)).cast("bigint").alias("final_rows"),
        F.sum("comment_len").cast("bigint").alias("sum_comment_len"),
        F.count("note").cast("bigint").alias("note_nonnull"),
        F.lit(len(final.columns)).cast("int").alias("final_cols"),
        F.lit(n_snapshots).cast("int").alias("n_snapshots"),
    )


# ---------------------------------------------------------------------------
# q116: table MAINTENANCE lifecycle — the M9 surface (drop/purge +
#       snapshot expiry + orphan GC), previously pinned only by tests
#       because it is destructive, made driver-verifiable by running the
#       WHOLE lifecycle on a scratch table and emitting invariant
#       columns (reference: notebook cell 45 compaction/maintenance,
#       pyspark_functions.py:348-355 drop-with-purge; Iceberg
#       expire_snapshots / remove_orphan_files semantics).
#       Build (create → 2 appends → MOR merge → compact, 5 snapshots) is
#       all arithmetic-derivable from `documents`; a planted fake-crash
#       orphan parquet must be GC'd exactly once (never a referenced
#       file — live rows recount proves it), expiry keeps the last 2
#       snapshots (expired versions raise, kept horizon still time-
#       travels), and DROP PURGE leaves nothing behind.
# ---------------------------------------------------------------------------
@register(
    "q116_table_maintenance",
    covers="M9 M8 S5 S7 S9 S10 M5-shape table-layer A2 P5",
    oracle="""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS corpus_docs,
       CAST(count(*) FILTER (WHERE doc_id % 10 = 4)
          + count(*) FILTER (WHERE doc_id % 10 = 5)
          + count(*) FILTER (WHERE doc_id % 10 = 7)
          + count(*) AS BIGINT) AS rows_final,
       CAST(sum(length(text))
          + coalesce(sum(length(text)) FILTER (WHERE doc_id % 10 = 4), 0)
          + coalesce(sum(length(text)) FILTER (WHERE doc_id % 10 = 5), 0)
          + coalesce(sum(length(text)) FILTER (WHERE doc_id % 10 = 7), 0)
          + 1000 * count(*) FILTER (WHERE doc_id % 10 = 6) AS BIGINT)
         AS val_sum_final,
       CAST(5 AS INT) AS snapshots_before_expire,
       CAST(2 AS INT) AS snapshots_after_expire,
       CAST(1 AS BIGINT) AS orphans_removed,
       TRUE AS orphan_gone,
       TRUE AS expired_version_unreadable,
       TRUE AS kept_horizon_time_travels,
       TRUE AS dropped_gone
FROM documents
""",
)
def q116_table_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import time as _time
    import uuid as _uuid

    from ..tables.snapshot_table import MergeClause, SnapshotTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("val")
    )
    t = SnapshotTable(spark, scratch_dir(prefix="maintenance_"))
    t.create_or_replace(docs, partitions=4)                          # v1
    t.append(                                                        # v2
        docs.filter(F.col("doc_id") % 10 == 4).select(
            (F.col("doc_id") + 7_000_000).alias("doc_id"), "val"
        )
    )
    t.append(                                                        # v3
        docs.filter(F.col("doc_id") % 10 == 5).select(
            (F.col("doc_id") + 8_000_000).alias("doc_id"), "val"
        )
    )
    src = (
        docs.filter(F.col("doc_id") % 10 == 6)
        .select("doc_id", (F.col("val") + 1000).alias("val"))
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 9_000_000).alias("doc_id"), "val"
            )
        )
    )
    t.merge(                                                         # v4
        src, on=["doc_id"],
        clause=MergeClause(matched_update={"val": "s.val"}),
        mode="merge-on-read",
    )
    t.compact(target_files=4)                                        # v5

    # fake a crashed writer: an unreferenced parquet file, old enough to
    # clear remove_orphan_files' in-flight-writer age guard
    orphan = os.path.join(
        t.root, "data", f"orphan-crashed-{_uuid.uuid4().hex[:8]}.parquet"
    )
    docs.limit(1).toPandas().to_parquet(orphan)
    old = _time.time() - 20 * 60
    os.utime(orphan, (old, old))

    orphans_removed = t.remove_orphan_files()
    orphan_gone = not os.path.exists(orphan)

    snapshots_before = t.history().count()
    t.expire_snapshots(keep_last=2)
    snapshots_after = t.history().count()

    try:
        t.read(version=1).count()
        expired_unreadable = False
    except Exception:
        expired_unreadable = True
    # the kept horizon (v4, pre-compaction image) still time-travels and
    # sees the SAME logical contents the compaction rewrote
    final = t.read().localCheckpoint()
    rows_final = final.count()
    val_sum_final = final.agg(F.sum("val")).collect()[0][0]
    tt = t.read(version=snapshots_before - 1)
    kept_tt_ok = (
        tt.count() == rows_final
        and tt.agg(F.sum("val")).collect()[0][0] == val_sum_final
    )

    t.drop(purge=True)
    dropped_gone = (not t.exists()) and (not os.path.isdir(t.root))

    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("corpus_docs"),
        F.lit(rows_final).cast("bigint").alias("rows_final"),
        F.lit(val_sum_final).cast("bigint").alias("val_sum_final"),
        F.lit(snapshots_before).cast("int").alias("snapshots_before_expire"),
        F.lit(snapshots_after).cast("int").alias("snapshots_after_expire"),
        F.lit(orphans_removed).cast("bigint").alias("orphans_removed"),
        F.lit(orphan_gone).alias("orphan_gone"),
        F.lit(expired_unreadable).alias("expired_version_unreadable"),
        F.lit(kept_tt_ok).alias("kept_horizon_time_travels"),
        F.lit(dropped_gone).alias("dropped_gone"),
    )


# ---------------------------------------------------------------------------
# q118: CHANGE DATA FEED — row-level changes between snapshot versions
#       (operators/changelog.table_changes; Iceberg changelog / Delta CDF
#       vocabulary: insert / delete / update_preimage / update_postimage
#       + _commit_version). Window 1→2 is a copy-on-write conditional
#       MERGE (update + delete + insert in one commit); window 2→3 is a
#       MERGE-ON-READ update, so the CDF full-outer diff also runs over
#       live equality deletes. Every emitted row is derivable from
#       `nation` — the whole changelog is hash-checked, not just counts.
#       Scale shape: carried-over files are pruned from BOTH join sides
#       before any read (pinned by tests/test_changelog.py), so the diff
#       scans what the window rewrote, not the table.
# ---------------------------------------------------------------------------
@register(
    "q118_change_data_feed",
    covers="change-data-feed S9 S10 J4 M5-shape table-layer P5 U1",
    oracle="""
WITH base AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
upd AS (SELECT * FROM base WHERE n_nationkey % 5 = 0),
del AS (SELECT * FROM base WHERE n_nationkey % 5 = 1),
ins AS (SELECT n_nationkey + 100 AS n_nationkey, n_name, n_regionkey FROM base),
upd2 AS (SELECT * FROM base WHERE n_nationkey % 5 = 2)
SELECT n_nationkey, n_name, n_regionkey,
       'insert' AS _change_type, CAST(2 AS INT) AS _commit_version FROM ins
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, 'delete', 2 FROM del
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, 'update_preimage', 2 FROM upd
UNION ALL
SELECT n_nationkey, n_name, n_regionkey + 100, 'update_postimage', 2 FROM upd
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, 'update_preimage', 3 FROM upd2
UNION ALL
SELECT n_nationkey, n_name, n_regionkey + 1000, 'update_postimage', 3 FROM upd2
""",
)
def q118_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changelog import table_changes
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    t = SnapshotTable(spark, scratch_dir(prefix="cdf_"))
    t.create_or_replace(base, partitions=4)                          # v1

    src = (
        base.filter(F.col("n_nationkey") % 5 == 0)
        .select(
            "n_nationkey", "n_name",
            (F.col("n_regionkey") + 100).alias("n_regionkey"),
            F.lit("U").alias("__op"),
        )
        .unionByName(
            base.filter(F.col("n_nationkey") % 5 == 1).select(
                "n_nationkey", "n_name", "n_regionkey",
                F.lit("D").alias("__op"),
            )
        )
        .unionByName(
            base.select(
                (F.col("n_nationkey") + 100).alias("n_nationkey"),
                "n_name", "n_regionkey", F.lit("I").alias("__op"),
            )
        )
    )
    t.merge(                                                         # v2 (COW)
        src,
        on=["n_nationkey"],
        clause=MergeClause(
            matched_update={"n_regionkey": "s.n_regionkey"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_values={
                "n_nationkey": "s.n_nationkey",
                "n_name": "s.n_name",
                "n_regionkey": "s.n_regionkey",
            },
        ),
        mode="copy-on-write",
    )
    t.merge(                                                         # v3 (MOR)
        base.filter(F.col("n_nationkey") % 5 == 2).select(
            "n_nationkey",
            (F.col("n_regionkey") + 1000).alias("n_regionkey"),
        ),
        on=["n_nationkey"],
        clause=MergeClause(
            matched_update={"n_regionkey": "s.n_regionkey"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )
    return table_changes(t, ["n_nationkey"], 1, 2).unionByName(
        table_changes(t, ["n_nationkey"], 2, 3)
    )


# ---------------------------------------------------------------------------
# q119: CDF-driven incremental VIEW MAINTENANCE — q108's rollup kept
#       fresh across OVERWRITE-class windows (updates, deletes, and a
#       cross-group move) by folding the row-level changelog with
#       retract/apply signs (refresh_cdf): inserts/post-images +1,
#       deletes/pre-images −1. The append-only refresh path raises on
#       such windows (read_incremental's contract); this is the path
#       that keeps delta-cost maintenance when merges happen. Receipts
#       pin the cost: n1/n2 = exact change-row counts of each window
#       (a rescan of the base would hash-fail), noop = 0. Money sums
#       ride the cents trick for bit-exact MERGE folding.
# ---------------------------------------------------------------------------
@register(
    "q119_rollup_cdf_maintenance",
    covers="incremental-view change-data-feed table-layer S5 S7 M5-shape A1 A2 P5",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), final AS (
  SELECT CASE WHEN o_orderkey % 7 = 3 THEN '9-MOVED'
              ELSE o_orderpriority END AS o_orderpriority,
         cents + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS cents
  FROM o WHERE o_orderkey % 7 <> 1
  UNION ALL
  SELECT o_orderpriority, cents FROM o WHERE o_orderkey % 7 = 2
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_price_cents,
       (SELECT CAST(count(*) FILTER (WHERE o_orderkey % 7 = 1)
               + 2 * count(*) FILTER (WHERE o_orderkey % 7 = 0)
               + count(*) FILTER (WHERE o_orderkey % 7 = 2) AS BIGINT)
        FROM o) AS wave1_change_rows,
       (SELECT CAST(2 * count(*) FILTER (WHERE o_orderkey % 7 = 3) AS BIGINT)
        FROM o) AS wave2_change_rows,
       CAST(0 AS BIGINT) AS noop_refresh_rows
FROM final GROUP BY o_orderpriority
""",
)
def q119_rollup_cdf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.rollup import MaterializedRollup
    from ..tables.snapshot_table import MergeClause, SnapshotTable
    from ._exact import cents

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q119_base_"))
    base.create_or_replace(orders)                                   # v1
    roll = MaterializedRollup(
        spark, scratch_dir(prefix="q119_roll_"), base,
        group_cols=["o_orderpriority"], sum_cols=["price_cents"],
    )
    roll.rebuild()

    # wave 1 (COW): +100 cents on %7=0, delete %7=1, insert %7=2 copies
    src1 = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey", "o_orderpriority",
            (F.col("price_cents") + 100).alias("price_cents"),
            F.lit("U").alias("__op"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 7 == 1).select(
                "o_orderkey", "o_orderpriority", "price_cents",
                F.lit("D").alias("__op"),
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 7 == 2).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                "o_orderpriority", "price_cents", F.lit("I").alias("__op"),
            )
        )
    )
    base.merge(
        src1, on=["o_orderkey"],
        clause=MergeClause(
            matched_update={"price_cents": "s.price_cents"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_values={
                "o_orderkey": "s.o_orderkey",
                "o_orderpriority": "s.o_orderpriority",
                "price_cents": "s.price_cents",
            },
        ),
        mode="copy-on-write",
    )
    n1 = roll.refresh_cdf(["o_orderkey"])

    # wave 2 (MOR): move every %7=3 row into a NEW group
    base.merge(
        orders.filter(F.col("o_orderkey") % 7 == 3).select("o_orderkey"),
        on=["o_orderkey"],
        clause=MergeClause(
            matched_update={"o_orderpriority": "'9-MOVED'"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )
    n2 = roll.refresh_cdf(["o_orderkey"])
    n_noop = roll.refresh_cdf(["o_orderkey"])

    return roll.read().select(
        "o_orderpriority",
        "n_rows",
        F.col("sum_price_cents").cast("bigint").alias("sum_price_cents"),
        F.lit(n1).cast("bigint").alias("wave1_change_rows"),
        F.lit(n2).cast("bigint").alias("wave2_change_rows"),
        F.lit(n_noop).cast("bigint").alias("noop_refresh_rows"),
    )


# ---------------------------------------------------------------------------
# q120: MERGEABLE-SKETCH rollup — approximate distinct counts kept
#       delta-cost fresh: the rollup stores a per-group HyperLogLog
#       sketch (hll_sketch_agg, Datasketches HllSketch) and each append
#       refresh UNIONS the delta's partial sketches into it
#       (hll_union inside the MERGE), so distinct-user counts stay
#       maintainable where an exact count(DISTINCT) would rescan the
#       base per refresh — the classic mergeable-summary design
#       (Agarwal et al., "Mergeable Summaries"). Correctness is pinned
#       the sketch-honest way: the oracle carries the EXACT per-group
#       distinct count and the query emits a within-5%-relative-error
#       flag (HllSketch lgK=12 gives ~1.6% relative standard error, so
#       5% is ~3σ — a 2% bound was only ~1.25σ and could fail spuriously
#       at other scale factors, ADVICE r6) — plus q108-style delta
#       receipts proving the refreshes scanned only the appended rows.
# ---------------------------------------------------------------------------
@register(
    "q120_sketch_rollup",
    covers="incremental-view table-layer S5 S7 M5-shape A1 A2 A3 P5",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
       TRUE AS estimate_within_5pct,
       (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0)
         AS last_delta_rows,
       CAST(0 AS BIGINT) AS noop_refresh_rows
FROM events GROUP BY event_type
""",
)
def q120_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.rollup import MaterializedRollup
    from ..tables.snapshot_table import SnapshotTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q120_base_"))
    base.create_or_replace(ev.filter(F.col("event_id") % 3 == 1))
    roll = MaterializedRollup(
        spark, scratch_dir(prefix="q120_roll_"), base,
        group_cols=["event_type"], sum_cols=[],
        approx_distinct_cols=["user_id"],
    )
    roll.rebuild()
    base.append(ev.filter(F.col("event_id") % 3 == 2))
    roll.refresh()
    base.append(ev.filter(F.col("event_id") % 3 == 0))
    n3 = roll.refresh()
    n_noop = roll.refresh()

    exact = base.read().groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct_users")
    )
    return (
        roll.read()
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_distinct_users",
            (
                F.abs(
                    F.col("approx_distinct_user_id")
                    - F.col("exact_distinct_users")
                )
                <= F.ceil(F.col("exact_distinct_users") * 0.05)
            ).alias("estimate_within_5pct"),
            F.lit(n3).cast("bigint").alias("last_delta_rows"),
            F.lit(n_noop).cast("bigint").alias("noop_refresh_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q121: PARTITION-SPEC EVOLUTION — Iceberg's replace-partition-field
#       story on the snapshot layer: a table CTAS'd partitioned by
#       order year evolves its spec to order priority (metadata-only
#       commit), the second half of orders lands under the NEW layout,
#       and reads stay exact across the mixed eras — read_where prunes
#       era-1 files by their year= dirs and era-2 files by their
#       priority= dirs (the any-era matcher), with footer stats
#       covering the cross-era column. compact() then migrates the
#       whole table to the new spec (the explicit rewrite Iceberg also
#       requires); migrated_layout pins that every post-compaction file
#       sits under priority dirs and the content survived. All counts/
#       sums replay over raw orders in SQL.
# ---------------------------------------------------------------------------
@register(
    "q121_partition_spec_evolution",
    covers="table-layer S5 S6 S7 M8 P3 A2 P5 schema-evolution",
    oracle=f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS all_rows,
       CAST(count(*) FILTER (WHERE EXTRACT(year FROM o_orderdate) = 1997)
         AS BIGINT) AS year_rows,
       CAST(coalesce(sum(o_custkey)
         FILTER (WHERE EXTRACT(year FROM o_orderdate) = 1997), 0) AS BIGINT)
         AS year_custkey_sum,
       CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
         AS BIGINT) AS urgent_rows,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
         FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS BIGINT)
         AS urgent_price_cents,
       TRUE AS mixed_era_layout,
       TRUE AS migrated_layout,
       TRUE AS content_survived_migration
FROM orders
""",
)
def q121_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable
    from ._exact import cents

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_cents"),
        F.year("o_orderdate").alias("o_year"),
    )
    t = SnapshotTable(spark, scratch_dir(prefix="q121_"))
    t.create_or_replace(                                             # era 1
        src.filter(F.col("o_orderkey") % 2 == 0),
        partitions=2, partition_by=["o_year"],
    )
    t.set_partition_spec(["o_orderpriority"])                        # evolve
    t.append(src.filter(F.col("o_orderkey") % 2 == 1))               # era 2

    snap = t._read_snapshot(t.current_version())
    mixed = any("o_year=" in rel for rel in snap["files"]) and any(
        "o_orderpriority=" in rel for rel in snap["files"]
    )
    year = t.read_where([("o_year", "=", 1997)]).agg(
        F.count(F.lit(1)).cast("bigint").alias("year_rows"),
        F.coalesce(F.sum("o_custkey"), F.lit(0)).cast("bigint").alias(
            "year_custkey_sum"
        ),
    ).localCheckpoint()
    urgent = t.read_where([("o_orderpriority", "=", "1-URGENT")]).agg(
        F.count(F.lit(1)).cast("bigint").alias("urgent_rows"),
        F.coalesce(F.sum("price_cents"), F.lit(0)).cast("bigint").alias(
            "urgent_price_cents"
        ),
    ).localCheckpoint()
    pre_rows = t.count_rows()
    pre_cents = t.read().agg(F.sum("price_cents")).collect()[0][0]

    t.compact(target_files=4)                                        # migrate
    snap = t._read_snapshot(t.current_version())
    migrated = all("o_orderpriority=" in rel for rel in snap["files"]) and (
        not any("o_year=" in rel for rel in snap["files"])
    )
    survived = (
        t.count_rows() == pre_rows
        and t.read().agg(F.sum("price_cents")).collect()[0][0] == pre_cents
    )

    return (
        t.read()
        .agg(F.count(F.lit(1)).cast("bigint").alias("all_rows"))
        .crossJoin(year)
        .crossJoin(urgent)
        .withColumn("mixed_era_layout", F.lit(mixed))
        .withColumn("migrated_layout", F.lit(migrated))
        .withColumn("content_survived_migration", F.lit(survived))
    )


# ---------------------------------------------------------------------------
# q122: SNAPSHOT TAGS — named immutable refs with GC-root retention
#       (Iceberg CREATE TAG + expire_snapshots tag retention): a
#       mid-history snapshot is tagged, later expiry keeps ONLY the
#       newest snapshot plus the tagged one (its files included), the
#       tag still reads exactly its pinned contents, untagged history
#       raises, and dropping the tag releases the snapshot at the next
#       expiry. The reproducible-training-run story: a run pins its
#       corpus with a tag and GC can never pull it out from under it.
# ---------------------------------------------------------------------------
@register(
    "q122_snapshot_tags",
    covers="table-layer S5 S7 S9 S10 M9 A2 P5",
    oracle="""
SELECT CAST(2 AS INT) AS tag_version,
       CAST(2 * count(*) AS BIGINT) AS tag_rows,
       CAST(4 * count(*) AS BIGINT) AS current_rows,
       CAST(2 AS INT) AS snapshots_after_expire,
       TRUE AS tag_reads_pinned_contents,
       TRUE AS untagged_history_unreadable,
       CAST(1 AS INT) AS snapshots_after_release,
       TRUE AS released_tag_gone
FROM nation
""",
)
def q122_snapshot_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )

    def shifted(k):
        return nation.select(
            (F.col("n_nationkey") + k).alias("n_nationkey"),
            "n_name", "n_regionkey",
        )

    t = SnapshotTable(spark, scratch_dir(prefix="q122_"))
    t.create_or_replace(nation)                                      # v1
    t.append(shifted(100))                                           # v2
    tag_version = t.create_tag("train-v1")
    t.append(shifted(200))                                           # v3
    t.append(shifted(300))                                           # v4

    t.expire_snapshots(keep_last=1)
    snapshots_after = len(t._snapshots())
    tag_rows = t.read_tag("train-v1").count()
    # the tag must read EXACTLY its pinned contents: the v2 era's keys
    # (originals + the +100 shift) and nothing from the later appends
    pinned = t.read_tag("train-v1").agg(
        F.max("n_nationkey").alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    expected = nation.count() * 2
    tag_ok = pinned["n"] == expected and pinned["mx"] < 200
    current_rows = t.count_rows()
    try:
        t.read(version=3).count()
        v3_unreadable = False
    except Exception:
        v3_unreadable = True

    t.drop_tag("train-v1")
    t.expire_snapshots(keep_last=1)
    snapshots_final = len(t._snapshots())
    try:
        t.read_tag("train-v1")
        tag_gone = False
    except ValueError:
        tag_gone = True

    return nation.agg(
        F.lit(tag_version).cast("int").alias("tag_version"),
        F.lit(tag_rows).cast("bigint").alias("tag_rows"),
        F.lit(current_rows).cast("bigint").alias("current_rows"),
        F.lit(snapshots_after).cast("int").alias("snapshots_after_expire"),
        F.lit(tag_ok).alias("tag_reads_pinned_contents"),
        F.lit(v3_unreadable).alias("untagged_history_unreadable"),
        F.lit(snapshots_final).cast("int").alias("snapshots_after_release"),
        F.lit(tag_gone).alias("released_tag_gone"),
    )


# ---------------------------------------------------------------------------
# q123: WRITE-AUDIT-PUBLISH via branch refs — Iceberg's WAP staging
#       pattern on the snapshot layer: a branch forks at the current
#       snapshot (manifest copies; data files shared), an append + a
#       MERGE land on the branch while main keeps serving the old rows
#       (isolation flag), the audited branch fast-forwards into main
#       WITH its intermediate history (time travel to the staged
#       pre-merge version), and a branch whose fork point main has
#       since passed is REFUSED publication (divergence = a real
#       conflict, never a silent merge). All row/sum arithmetic
#       replays over nation in SQL.
# ---------------------------------------------------------------------------
@register(
    "q123_wap_branch_publish",
    covers="table-layer S5 S7 S9 S10 M5-shape A2 P5",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS base_rows,
       CAST(2 * count(*) AS BIGINT) AS staged_rows,
       CAST(count(*) AS BIGINT) AS main_rows_before_publish,
       CAST(2 * count(*) AS BIGINT) AS published_rows,
       CAST(2 * sum(n_regionkey)
            + 100 * count(*) FILTER (WHERE n_nationkey % 5 = 0) AS BIGINT)
         AS published_regionkey_sum,
       CAST(2 * sum(n_regionkey) AS BIGINT) AS staged_premerge_sum,
       TRUE AS diverged_publish_refused,
       CAST(3 * count(*) AS BIGINT) AS final_rows
FROM nation
""",
)
def q123_wap_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import (
        ConcurrentCommitError,
        MergeClause,
        SnapshotTable,
    )

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )

    def shifted(k):
        return nation.select(
            (F.col("n_nationkey") + k).alias("n_nationkey"),
            "n_name", "n_regionkey",
        )

    t = SnapshotTable(spark, scratch_dir(prefix="q123_"))
    t.create_or_replace(nation)                                      # v1
    base_rows = t.count_rows()

    br = t.create_branch("wap")
    br.append(shifted(100))                                          # v2 (branch)
    staged_premerge_sum = br.read().agg(F.sum("n_regionkey")).collect()[0][0]
    br.merge(                                                        # v3 (branch)
        nation.filter(F.col("n_nationkey") % 5 == 0).select(
            "n_nationkey", (F.col("n_regionkey") + 100).alias("n_regionkey")
        ),
        on=["n_nationkey"],
        clause=MergeClause(
            matched_update={"n_regionkey": "s.n_regionkey"},
            insert_when_not_matched=False,
        ),
    )
    staged_rows = br.count_rows()
    main_rows_before = t.count_rows()

    t.fast_forward("wap")                                            # publish
    published_rows = t.count_rows()
    published_sum = t.read().agg(F.sum("n_regionkey")).collect()[0][0]
    # published history time-travels: v2 is the staged pre-merge image
    tt_sum = t.read(version=2).agg(F.sum("n_regionkey")).collect()[0][0]
    tt_ok = tt_sum == staged_premerge_sum
    t.drop_branch("wap")

    # divergence: a branch whose fork point main has passed is refused
    stale = t.create_branch("stale")
    stale.append(shifted(200))
    t.append(shifted(200))                                           # main moves on
    try:
        t.fast_forward("stale")
        refused = False
    except ConcurrentCommitError:
        refused = True
    t.drop_branch("stale")

    return nation.agg(
        F.lit(base_rows).cast("bigint").alias("base_rows"),
        F.lit(staged_rows).cast("bigint").alias("staged_rows"),
        F.lit(main_rows_before).cast("bigint").alias(
            "main_rows_before_publish"
        ),
        F.lit(published_rows).cast("bigint").alias("published_rows"),
        F.lit(published_sum).cast("bigint").alias("published_regionkey_sum"),
        F.when(F.lit(tt_ok), F.lit(staged_premerge_sum))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("staged_premerge_sum"),
        F.lit(refused).alias("diverged_publish_refused"),
        F.lit(t.count_rows()).cast("bigint").alias("final_rows"),
    )


# ---------------------------------------------------------------------------
# q124: GROUP-SCOPED SKETCH MAINTENANCE through the CDF — q120's
#       mergeable-HLL rollup kept fresh across OVERWRITE-class windows
#       (r6 verdict #4: refresh_cdf used to refuse sketch columns;
#       sketches are not retractable, so it now re-sketches ONLY the
#       groups each change window touched — one base semi-join on the
#       touched group keys + one sketch agg, cost proportional to the
#       touched groups' rows, while counts fold retract/apply).
#       Wave 1 (COW) deletes %5=1 rows and REWRITES %5=2 rows' user ids
#       (both RETRACT distinct values — impossible for a sketch union);
#       wave 2 (MOR) moves %5=3 rows into a new group. Correctness is
#       sketch-honest like q120: exact per-group distincts in the
#       oracle, a within-5%-relative-error flag from the query
#       (~3 sigma at HllSketch lgK=12), and change-row receipts pinning
#       the delta cost; untouched-group byte-stability is pinned by the
#       property test (tests/test_snapshot_table.py).
# ---------------------------------------------------------------------------
@register(
    "q124_sketch_rollup_cdf",
    covers="incremental-view change-data-feed table-layer S5 S7 M5-shape A1 A3 P5",
    oracle="""
WITH e AS (
  SELECT event_id, event_type, user_id FROM events
), final AS (
  SELECT CASE WHEN event_id % 5 = 3 THEN '9-moved' ELSE event_type END
           AS event_type,
         CASE WHEN event_id % 5 = 2 THEN user_id + 1000000 ELSE user_id END
           AS user_id
  FROM e WHERE event_id % 5 <> 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
       TRUE AS estimate_within_5pct,
       (SELECT CAST(count(*) FILTER (WHERE event_id % 5 = 1)
               + 2 * count(*) FILTER (WHERE event_id % 5 = 2) AS BIGINT)
        FROM e) AS wave1_change_rows,
       (SELECT CAST(2 * count(*) FILTER (WHERE event_id % 5 = 3) AS BIGINT)
        FROM e) AS wave2_change_rows,
       CAST(0 AS BIGINT) AS noop_refresh_rows
FROM final GROUP BY event_type
""",
)
def q124_sketch_rollup_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.rollup import MaterializedRollup
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q124_base_"))
    base.create_or_replace(ev)                                       # v1
    roll = MaterializedRollup(
        spark, scratch_dir(prefix="q124_roll_"), base,
        group_cols=["event_type"], sum_cols=[],
        approx_distinct_cols=["user_id"],
    )
    roll.rebuild()

    # wave 1 (COW): delete %5=1, rewrite %5=2's user ids — both retract
    # distinct values from their groups' sketches
    src1 = (
        ev.filter(F.col("event_id") % 5 == 1)
        .select("event_id", "event_type", "user_id", F.lit("D").alias("__op"))
        .unionByName(
            ev.filter(F.col("event_id") % 5 == 2).select(
                "event_id", "event_type",
                (F.col("user_id") + 1_000_000).alias("user_id"),
                F.lit("U").alias("__op"),
            )
        )
    )
    base.merge(
        src1, on=["event_id"],
        clause=MergeClause(
            matched_update={"user_id": "s.user_id"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_when_not_matched=False,
        ),
        mode="copy-on-write",
    )
    n1 = roll.refresh_cdf(["event_id"])

    # wave 2 (MOR): move every %5=3 row into a NEW group — the sketch
    # for '9-moved' is built fresh, the donor groups' re-sketched
    base.merge(
        ev.filter(F.col("event_id") % 5 == 3).select("event_id"),
        on=["event_id"],
        clause=MergeClause(
            matched_update={"event_type": "'9-moved'"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )
    n2 = roll.refresh_cdf(["event_id"])
    n_noop = roll.refresh_cdf(["event_id"])

    exact = base.read().groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias(
            "exact_distinct_users"
        )
    )
    return (
        roll.read()
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_distinct_users",
            (
                F.abs(
                    F.col("approx_distinct_user_id")
                    - F.col("exact_distinct_users")
                )
                <= F.ceil(F.col("exact_distinct_users") * 0.05)
            ).alias("estimate_within_5pct"),
            F.lit(n1).cast("bigint").alias("wave1_change_rows"),
            F.lit(n2).cast("bigint").alias("wave2_change_rows"),
            F.lit(n_noop).cast("bigint").alias("noop_refresh_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q125: WAP MAINTENANCE GAUNTLET — branches composed with the REST of
#       the table layer (r6 verdict #6): fork an audit branch off a
#       TAGGED release version, run maintenance on main while the
#       branch is open (compact + expire_snapshots + orphan GC), and
#       verify the composition invariants: (a) branch reads are STABLE
#       under main's maintenance (cross-timeline refs are GC roots, the
#       tag pins the fork version through expiry), (b) fast_forward
#       REFUSES the now-diverged main (compaction advanced it — the
#       Iceberg publish-conflict case), (c) the abandoned branch's
#       staged files become collectable orphans only after drop_branch,
#       and (d) a re-branch from current main publishes cleanly. All
#       row/sum arithmetic replays over nation in SQL; the zero GC
#       receipts ARE the claim (maintenance could not break any ref).
# ---------------------------------------------------------------------------
@register(
    "q125_wap_maintenance_gauntlet",
    covers="table-layer S5 S7 S9 S10 M8 M9 A2 P5",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS base_rows,
       CAST(2 * count(*) AS BIGINT) AS branch_rows_after_maintenance,
       CAST(2 * sum(n_regionkey) + 100 * count(*) AS BIGINT)
         AS branch_sum_after_maintenance,
       CAST(0 AS BIGINT) AS maintenance_expired_files,
       CAST(0 AS BIGINT) AS maintenance_gc_removed,
       TRUE AS diverged_publish_refused,
       TRUE AS orphans_collected_after_drop,
       CAST(count(*) AS BIGINT) AS tag_rows_after_all,
       CAST(sum(n_regionkey) AS BIGINT) AS tag_sum_after_all,
       CAST(2 * count(*) AS BIGINT) AS republished_rows,
       CAST(2 * sum(n_regionkey) + 100 * count(*) AS BIGINT)
         AS republished_sum
FROM nation
""",
)
def q125_wap_maintenance_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import ConcurrentCommitError, SnapshotTable

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    staged = nation.select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        "n_name",
        (F.col("n_regionkey") + 100).alias("n_regionkey"),
    )

    t = SnapshotTable(spark, scratch_dir(prefix="q125_"))
    t.create_or_replace(nation)                                      # v1
    base_rows = t.count_rows()
    t.create_tag("rel-1")                                            # pins v1
    br1 = t.create_branch("audit1")
    br1.append(staged)                                               # branch v2

    # maintenance on MAIN while the branch is open
    t.compact(target_files=1)                                        # main v2
    import time as _time

    future = int((_time.time() + 60) * 1000)
    expired = t.expire_snapshots(keep_last=1)   # tag keeps v1 → 0 files
    gc0 = t.remove_orphan_files(older_than_ms=future)  # all refs live → 0

    # branch reads stable under the maintenance above
    branch_rows = br1.count_rows()
    branch_sum = br1.read().agg(F.sum("n_regionkey")).collect()[0][0]

    # publish conflict: main advanced past the fork (compaction commit)
    try:
        t.fast_forward("audit1")
        refused = False
    except ConcurrentCommitError:
        refused = True

    # abandoning the branch releases its staged files to the next sweep
    t.drop_branch("audit1")
    gc1 = t.remove_orphan_files(older_than_ms=future)

    # rebase: re-branch from CURRENT main, restage, publish cleanly
    br2 = t.create_branch("audit2")
    br2.append(staged)
    t.fast_forward("audit2")
    republished_rows = t.count_rows()
    republished_sum = t.read().agg(F.sum("n_regionkey")).collect()[0][0]
    tag_rows = t.read_tag("rel-1").count()
    tag_sum = t.read_tag("rel-1").agg(F.sum("n_regionkey")).collect()[0][0]

    return nation.agg(
        F.lit(base_rows).cast("bigint").alias("base_rows"),
        F.lit(branch_rows).cast("bigint").alias(
            "branch_rows_after_maintenance"
        ),
        F.lit(branch_sum).cast("bigint").alias(
            "branch_sum_after_maintenance"
        ),
        F.lit(expired).cast("bigint").alias("maintenance_expired_files"),
        F.lit(gc0).cast("bigint").alias("maintenance_gc_removed"),
        F.lit(refused).alias("diverged_publish_refused"),
        F.lit(gc1 > 0).alias("orphans_collected_after_drop"),
        F.lit(tag_rows).cast("bigint").alias("tag_rows_after_all"),
        F.lit(tag_sum).cast("bigint").alias("tag_sum_after_all"),
        F.lit(republished_rows).cast("bigint").alias("republished_rows"),
        F.lit(republished_sum).cast("bigint").alias("republished_sum"),
    )


# ---------------------------------------------------------------------------
# q128: CDF REPLICA SYNC — the CONSUMER half of the changelog
#       (operators/changelog.apply_changes): a downstream replica is
#       bootstrapped at v1, then kept in lockstep by applying each
#       commit window's change feed — the reference's whole CDC-consumer
#       shape (updating_db_with_deltas_iceberg.ipynb cell 26 applies
#       daily deltas into a downstream Iceberg table). Three window
#       kinds are exercised: a COW conditional MERGE (update+delete+
#       insert in one commit), a plain APPEND (insert-only feed →
#       apply_changes takes the no-merge append fast path, duplicate-key
#       safe), and a MERGE-ON-READ update (the feed diffs across live
#       equality deletes). The ENTIRE final replica is hash-checked
#       against the oracle's recomputation, plus per-wave applied-count
#       receipts (insert + update_postimage + delete rows — a feed that
#       leaked pre-images or re-scanned the base would mismatch).
#       Scale shape: each apply is ONE delete-aware MERGE whose cost is
#       |changes| (file pruning rewrites only matched replica files),
#       never the replica size — the probe in tools/probe_cdf_sync.py
#       measures exactly that curve.
# ---------------------------------------------------------------------------
@register(
    "q128_cdf_replica_sync",
    covers="change-data-feed cdc-consumer table-layer S5 S7 S10 J4 M5-shape U1 P5",
    oracle="""
WITH s AS (
  SELECT s_suppkey, s_name,
         CAST(round(s_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
         CAST(s_nationkey AS BIGINT) AS s_nationkey
  FROM supplier
),
final AS (
  SELECT s_suppkey, s_name,
         acctbal_cents
           + CASE WHEN s_suppkey % 7 = 0 THEN 10000 ELSE 0 END AS acctbal_cents,
         s_nationkey
           + CASE WHEN s_suppkey % 7 = 4 THEN 100 ELSE 0 END AS s_nationkey
  FROM s WHERE s_suppkey % 7 <> 1
  UNION ALL
  SELECT s_suppkey + 1000000, s_name, acctbal_cents, s_nationkey
  FROM s WHERE s_suppkey % 7 = 2
  UNION ALL
  SELECT s_suppkey + 2000000, s_name, acctbal_cents, s_nationkey
  FROM s WHERE s_suppkey % 7 = 3
)
SELECT f.s_suppkey, f.s_name, f.acctbal_cents, f.s_nationkey,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 IN (0, 1, 2)) AS BIGINT)
   FROM s) AS wave1_applied,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 = 3) AS BIGINT)
   FROM s) AS wave2_applied,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 = 4) AS BIGINT)
   FROM s) AS wave3_applied
FROM final f
""",
)
def q128_cdf_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changelog import apply_changes, table_changes
    from ..tables.snapshot_table import MergeClause, SnapshotTable
    from ._exact import cents

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        cents(F.col("s_acctbal")).alias("acctbal_cents"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q128_base_"))
    base.create_or_replace(sup, partitions=4)                        # v1
    replica = SnapshotTable(spark, scratch_dir(prefix="q128_rep_"))
    replica.create_or_replace(base.read(1))   # consumer bootstraps at v1

    # producer wave 1 (COW conditional MERGE): +100.00 on %7=0, delete
    # %7=1, insert +1M-key clones of %7=2
    src1 = (
        sup.filter(F.col("s_suppkey") % 7 == 0)
        .select(
            "s_suppkey", "s_name",
            (F.col("acctbal_cents") + 10000).alias("acctbal_cents"),
            "s_nationkey", F.lit("U").alias("__op"),
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 7 == 1).select(
                "s_suppkey", "s_name", "acctbal_cents", "s_nationkey",
                F.lit("D").alias("__op"),
            )
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 7 == 2).select(
                (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"),
                "s_name", "acctbal_cents", "s_nationkey",
                F.lit("I").alias("__op"),
            )
        )
    )
    base.merge(                                                      # v2
        src1,
        on=["s_suppkey"],
        clause=MergeClause(
            matched_update={"acctbal_cents": "s.acctbal_cents"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_values={
                "s_suppkey": "s.s_suppkey",
                "s_name": "s.s_name",
                "acctbal_cents": "s.acctbal_cents",
                "s_nationkey": "s.s_nationkey",
            },
        ),
        mode="copy-on-write",
    )
    # producer wave 2 (plain append): +2M-key copies of %7=3
    base.append(                                                     # v3
        sup.filter(F.col("s_suppkey") % 7 == 3).select(
            (F.col("s_suppkey") + 2_000_000).alias("s_suppkey"),
            "s_name", "acctbal_cents", "s_nationkey",
        )
    )
    # producer wave 3 (MERGE-ON-READ update): +100 nationkey on %7=4
    base.merge(                                                      # v4
        sup.filter(F.col("s_suppkey") % 7 == 4).select(
            "s_suppkey",
            (F.col("s_nationkey") + 100).alias("s_nationkey"),
        ),
        on=["s_suppkey"],
        clause=MergeClause(
            matched_update={"s_nationkey": "s.s_nationkey"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )

    # consumer loop: checkpoint = last applied version, one
    # table_changes + apply_changes per commit window
    applied = [
        apply_changes(
            replica,
            table_changes(base, ["s_suppkey"], v, v + 1),
            ["s_suppkey"],
        )
        for v in (1, 2, 3)
    ]
    return replica.read().select(
        "s_suppkey", "s_name", "acctbal_cents", "s_nationkey",
        F.lit(applied[0]).cast("bigint").alias("wave1_applied"),
        F.lit(applied[1]).cast("bigint").alias("wave2_applied"),
        F.lit(applied[2]).cast("bigint").alias("wave3_applied"),
    )


# ---------------------------------------------------------------------------
# q130: CDC CONSUMER CURSOR — q128's replica sync made RESTART-SAFE
#       (r8 verdict #2). The reference's daily-merge loop
#       (updating_db_with_deltas_iceberg.ipynb cells 26-36) is a
#       restarted-daily consumer that must know where its replica
#       stands; q128 hand-tracked that in Python. Here the cursor is
#       DURABLE state (operators/changelog.init_replica/sync_replica):
#       source root + keys + last-applied version persist at the
#       replica root, the applied version is stamped into each sync's
#       data commit, and the consumer is RESTARTED mid-stream — a fresh
#       handle resumes from disk, told nothing. Receipts: the cursor at
#       the restart and at the end, per-wave applied counts, plus the
#       full replica hash against the oracle's recomputation (q128's
#       producer waves, byte-identical content contract). Scale shape:
#       per-window cost is |changes| (one delete-aware MERGE), cursor
#       maintenance is metadata-only.
# ---------------------------------------------------------------------------
@register(
    "q130_cdc_consumer_cursor",
    covers="change-data-feed cdc-consumer cdc-cursor table-layer S5 S7 S10 J4 M5-shape U1 P5",
    oracle="""
WITH s AS (
  SELECT s_suppkey, s_name,
         CAST(round(s_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
         CAST(s_nationkey AS BIGINT) AS s_nationkey
  FROM supplier
),
final AS (
  SELECT s_suppkey, s_name,
         acctbal_cents
           + CASE WHEN s_suppkey % 7 = 0 THEN 10000 ELSE 0 END AS acctbal_cents,
         s_nationkey
           + CASE WHEN s_suppkey % 7 = 4 THEN 100 ELSE 0 END AS s_nationkey
  FROM s WHERE s_suppkey % 7 <> 1
  UNION ALL
  SELECT s_suppkey + 1000000, s_name, acctbal_cents, s_nationkey
  FROM s WHERE s_suppkey % 7 = 2
  UNION ALL
  SELECT s_suppkey + 2000000, s_name, acctbal_cents, s_nationkey
  FROM s WHERE s_suppkey % 7 = 3
)
SELECT f.s_suppkey, f.s_name, f.acctbal_cents, f.s_nationkey,
  CAST(2 AS BIGINT) AS cursor_at_restart,
  CAST(4 AS BIGINT) AS cursor_final,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 IN (0, 1, 2)) AS BIGINT)
   FROM s) AS wave1_applied,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 = 3) AS BIGINT)
   FROM s) AS wave2_applied,
  (SELECT CAST(count(*) FILTER (WHERE s_suppkey % 7 = 4) AS BIGINT)
   FROM s) AS wave3_applied
FROM final f
""",
)
def q130_cdc_consumer_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changelog import (
        init_replica,
        replica_cursor,
        sync_replica,
    )
    from ..tables.snapshot_table import MergeClause, SnapshotTable
    from ._exact import cents

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        cents(F.col("s_acctbal")).alias("acctbal_cents"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
    )
    base = SnapshotTable(spark, scratch_dir(prefix="q130_base_"))
    base.create_or_replace(sup, partitions=4)                        # v1
    replica = SnapshotTable(spark, scratch_dir(prefix="q130_rep_"))
    init_replica(replica, base, ["s_suppkey"], at_version=1)

    # producer waves: q128's exact shapes (COW merge / append / MOR merge)
    src1 = (
        sup.filter(F.col("s_suppkey") % 7 == 0)
        .select(
            "s_suppkey", "s_name",
            (F.col("acctbal_cents") + 10000).alias("acctbal_cents"),
            "s_nationkey", F.lit("U").alias("__op"),
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 7 == 1).select(
                "s_suppkey", "s_name", "acctbal_cents", "s_nationkey",
                F.lit("D").alias("__op"),
            )
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 7 == 2).select(
                (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"),
                "s_name", "acctbal_cents", "s_nationkey",
                F.lit("I").alias("__op"),
            )
        )
    )
    base.merge(                                                      # v2
        src1,
        on=["s_suppkey"],
        clause=MergeClause(
            matched_update={"acctbal_cents": "s.acctbal_cents"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_values={
                "s_suppkey": "s.s_suppkey",
                "s_name": "s.s_name",
                "acctbal_cents": "s.acctbal_cents",
                "s_nationkey": "s.s_nationkey",
            },
        ),
        mode="copy-on-write",
    )
    base.append(                                                     # v3
        sup.filter(F.col("s_suppkey") % 7 == 3).select(
            (F.col("s_suppkey") + 2_000_000).alias("s_suppkey"),
            "s_name", "acctbal_cents", "s_nationkey",
        )
    )
    base.merge(                                                      # v4 (MOR)
        sup.filter(F.col("s_suppkey") % 7 == 4).select(
            "s_suppkey",
            (F.col("s_nationkey") + 100).alias("s_nationkey"),
        ),
        on=["s_suppkey"],
        clause=MergeClause(
            matched_update={"s_nationkey": "s.s_nationkey"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )

    # consumer, leg 1: one window, cursor advances with the commit
    w1 = sync_replica(replica, base, to_version=2)
    # THE RESTART: a fresh handle, told only the roots — the cursor
    # comes from disk (REPLICA_META + the commit-summary stamp)
    reopened = SnapshotTable(spark, replica.root)
    cursor_at_restart = int(replica_cursor(reopened)["applied_version"])
    # consumer, leg 2: the reopened replica drains to the head
    w2 = sync_replica(reopened, base, to_version=3)
    w3 = sync_replica(reopened, base)
    cursor_final = int(replica_cursor(reopened)["applied_version"])
    return reopened.read().select(
        "s_suppkey", "s_name", "acctbal_cents", "s_nationkey",
        F.lit(cursor_at_restart).cast("bigint").alias("cursor_at_restart"),
        F.lit(cursor_final).cast("bigint").alias("cursor_final"),
        F.lit(w1).cast("bigint").alias("wave1_applied"),
        F.lit(w2).cast("bigint").alias("wave2_applied"),
        F.lit(w3).cast("bigint").alias("wave3_applied"),
    )


# ---------------------------------------------------------------------------
# q136: CONTINUOUS CDC CONSUMER (r9 verdict #3) — q130's cursor-tracked
#       replica driven by a REAL Structured Streaming job
#       (streaming/incremental.cdc_consumer_stream): each micro-batch
#       polls the source snapshot log and applies the next window
#       through sync_replica, with the new cursor stamped INTO the
#       applied window's own data commit. Exactly-once comes from the
#       CURSOR (a replayed batch finds it already advanced and applies
#       nothing), restart-safety from its durability: the consumer is
#       KILLED mid-stream — the first stream drains one window and
#       stops, the producer keeps committing while the consumer is
#       down, and a SECOND stream over the SAME checkpoint (fresh
#       handles, told only roots) resumes from the on-disk cursor and
#       drains to the head. A final idle poll pins the no-op contract
#       (quiet source → no commit, no Spark job). Receipts: cursor at
#       the restart and at the end, sync-stamp count, idle-poll no-op;
#       the full replica content is hash-checked against the oracle's
#       reconstruction of all three producer waves. Scale shape:
#       per-batch cost is |window changes| (one delete-aware MERGE);
#       an idle poll is a driver-side manifest read.
# ---------------------------------------------------------------------------
def _q136_tick(spark: SparkSession, ticks_dir: str, i: int) -> None:
    spark.range(1).select(F.lit(i).cast("bigint").alias("tick")).coalesce(
        1
    ).write.mode("append").parquet(ticks_dir)


@register(
    "q136_streaming_cdc_consumer",
    covers=(
        "streaming cdc-consumer cdc-cursor change-data-feed table-layer "
        "S5 S7 J4 M5-shape U1 P5 streaming-shape"
    ),
    oracle="""
WITH d AS (SELECT doc_id, text FROM documents),
final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN upper(text)
              WHEN doc_id % 13 = 4 THEN reverse(text)
              ELSE text END AS text
  FROM d WHERE doc_id % 13 <> 1
  UNION ALL
  SELECT doc_id + 1000000, text FROM d WHERE doc_id % 13 = 2
  UNION ALL
  SELECT doc_id + 2000000, text FROM d WHERE doc_id % 13 = 3
)
SELECT f.doc_id, f.text,
       CAST(2 AS BIGINT) AS cursor_at_restart,
       CAST(4 AS BIGINT) AS cursor_final,
       CAST(3 AS BIGINT) AS windows_applied,
       TRUE AS idle_poll_noop_ok
FROM final f
""",
)
def q136_streaming_cdc_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changelog import init_replica, replica_cursor
    from ..streaming.incremental import cdc_consumer_stream
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = SnapshotTable(spark, scratch_dir(prefix="q136_base_"))
    base.create_or_replace(docs, partitions=4)                       # v1
    replica = SnapshotTable(spark, scratch_dir(prefix="q136_rep_"))
    init_replica(replica, base, ["doc_id"], at_version=1)

    ticks = scratch_dir(prefix="q136_ticks_")
    ckpt = scratch_dir(prefix="q136_ckpt_")

    # producer wave 1 (v2): COW merge — update / delete / insert
    src1 = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select("doc_id", F.upper("text").alias("text"),
                F.lit("U").alias("__op"))
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 1).select(
                "doc_id", "text", F.lit("D").alias("__op")
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 2).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "text", F.lit("I").alias("__op"),
            )
        )
    )
    base.merge(
        src1,
        on=["doc_id"],
        clause=MergeClause(
            matched_update={"text": "s.text"},
            matched_update_condition="s.__op = 'U'",
            matched_delete_condition="s.__op = 'D'",
            insert_values={"doc_id": "s.doc_id", "text": "s.text"},
        ),
        mode="copy-on-write",
    )

    # consumer leg 1: one tick → one window applied, then the stream
    # ends (the "kill": nothing about the consumer survives in memory)
    _q136_tick(spark, ticks, 1)
    q1 = cdc_consumer_stream(
        spark, ticks, replica.root, base.root, ckpt, step=True
    )
    q1.awaitTermination(300)
    cursor_at_restart = int(replica_cursor(
        SnapshotTable(spark, replica.root)
    )["applied_version"])

    # the producer keeps committing while the consumer is down
    base.append(                                                     # v3
        docs.filter(F.col("doc_id") % 13 == 3).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    base.merge(                                                      # v4 (MOR)
        docs.filter(F.col("doc_id") % 13 == 4).select(
            "doc_id", F.reverse("text").alias("text")
        ),
        on=["doc_id"],
        clause=MergeClause(
            matched_update={"text": "s.text"},
            insert_when_not_matched=False,
        ),
        mode="merge-on-read",
    )

    # consumer leg 2: a NEW stream over the SAME checkpoint — resumes
    # from the durable cursor, told nothing, drains to the head
    _q136_tick(spark, ticks, 2)
    _q136_tick(spark, ticks, 3)
    q2 = cdc_consumer_stream(
        spark, ticks, replica.root, base.root, ckpt, step=True
    )
    q2.awaitTermination(300)

    # idle poll: a quiet source must commit nothing
    reopened = SnapshotTable(spark, replica.root)
    v_before_idle = reopened.current_version()
    _q136_tick(spark, ticks, 4)
    q3 = cdc_consumer_stream(
        spark, ticks, replica.root, base.root, ckpt, step=True
    )
    q3.awaitTermination(300)
    idle_noop = reopened.current_version() == v_before_idle

    cursor_final = int(replica_cursor(reopened)["applied_version"])
    windows_applied = sum(
        1
        for s in reopened._snapshots()
        if "cdc_applied_version" in (s.get("summary") or {})
        and s["operation"] != "create_or_replace"
    )
    return reopened.read().select(
        "doc_id", "text",
        F.lit(cursor_at_restart).cast("bigint").alias("cursor_at_restart"),
        F.lit(cursor_final).cast("bigint").alias("cursor_final"),
        F.lit(windows_applied).cast("bigint").alias("windows_applied"),
        F.lit(bool(idle_noop)).alias("idle_poll_noop_ok"),
    )


# ---------------------------------------------------------------------------
# q140: hidden-partitioning transform pruning — the Iceberg scan feature
#       the reference's runtime ships beyond identity date partitioning
#       (Iceberg spec §Partition Transforms; the reference's own tables
#       stop at an identity date key, utils/metadata/store_sales.json:
#       105-107). Events are CTAS'd under days(ts) × bucket(4, user_id);
#       the query filters on the RAW columns only — never naming the
#       layout — and read_where prunes through both transforms: the
#       8-day window × single user bucket bounds the scan to ≤ 8 files
#       (the '< Jan-18' bound conservatively keeps the Jan-18 day dir,
#       which raw-column footer stats then drop — the receipt is
#       achievable only because dir- and stats-pruning COMPOSE). At
#       100 TB this is the difference between reading one user-day
#       sliver and a month of everything. scan_bound_ok pins the file
#       bound, pruned_strict pins that pruning actually engaged;
#       aggregate values hash against the raw-parquet oracle, so an
#       unsound translation (a wrongly-pruned file) shifts the sums and
#       fails. Transform parity/soundness pinned in
#       tests/test_transforms.py + test_hidden_partitioning.py.
# ---------------------------------------------------------------------------
@register(
    "q140_hidden_partition_pruning",
    covers="table-layer S5 S6 P3 A1 A3 P5 hidden-partitioning",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       {sql_sum('value')} AS total_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS first_day,
       CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) AS last_day,
       TRUE AS pruned_strict,
       TRUE AS scan_bound_ok
FROM events
WHERE user_id = 7
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-18 00:00:00'
""",
)
def q140_hidden_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..tables.snapshot_table import SnapshotTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="hidpart_"))
    table.create_or_replace(
        ev, partitions=4, partition_by=["days(ts)", "bucket(4, user_id)"]
    )
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 18)
    filters = [("user_id", "=", 7), ("ts", ">=", lo), ("ts", "<", hi)]
    files_total = len(table._read_snapshot(table.current_version())["files"])
    files_scanned = len(table.pruned_files(filters))
    return table.read_where(filters).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        exact_sum(F.col("value")).alias("total_value"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.floor(F.min(F.col("ts").cast("long")) / 86400)
        .cast("bigint")
        .alias("first_day"),
        F.floor(F.max(F.col("ts").cast("long")) / 86400)
        .cast("bigint")
        .alias("last_day"),
        F.lit(files_scanned < files_total).alias("pruned_strict"),
        F.lit(1 <= files_scanned <= 8).alias("scan_bound_ok"),
    )


# ---------------------------------------------------------------------------
# q141: $partitions metadata table under a hidden-partition spec
#       (Iceberg ``SELECT * FROM t.$partitions``; reference metadata
#       scans are $history/$files — this widens the same surface).
#       Events are CTAS'd under days(ts); partitions_metadata() serves
#       per-day file/record/byte rollups straight from the manifest's
#       embedded stats (zero footer IO — probe-receipted in
#       tools/probe_manifest_stats.py). The oracle recomputes the
#       per-day record counts from raw parquet via the SAME epoch-day
#       arithmetic the transform writes, and n_files=1 is deterministic
#       by construction (each day-dir is written by exactly one task
#       after the dir-column repartition), so file-splitting or
#       misattributed rows hash-fail. sized_ok pins that every
#       partition reports real bytes.
# ---------------------------------------------------------------------------
@register(
    "q141_partitions_metadata",
    covers="table-layer S9 metadata-scan hidden-partitioning A1",
    oracle="""
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id,
       CAST(1 AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS record_count,
       TRUE AS sized_ok
FROM events
GROUP BY 1
""",
)
def q141_partitions_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    table = SnapshotTable(spark, scratch_dir(prefix="partmeta_"))
    table.create_or_replace(ev, partitions=4, partition_by=["days(ts)"])
    return table.partitions_metadata().select(
        F.regexp_extract("partition", r"ts_day=(-?\d+)", 1)
        .cast("bigint")
        .alias("day_id"),
        F.col("file_count").alias("n_files"),
        "record_count",
        (F.col("size_bytes") > 0).alias("sized_ok"),
    )


# ---------------------------------------------------------------------------
# q142: key-delete pruned through the bucket transform — the point-
#       takedown cost story at scale: DELETE WHERE user_id IN (3, 7)
#       on a bucket(8, user_id) layout scans and rewrites ONLY the
#       victims' bucket dirs (<= 2 of 8), never the table. The Spark
#       side computes the victims' bucket values with the SAME murmur3
#       mirror the pruner uses and pins (a) candidates ⊆ victim-bucket
#       files, (b) rewritten_files <= candidates, (c) pruning engaged
#       strictly. Contents after the delete hash against the raw-
#       parquet oracle's complement — a transform-translation bug that
#       wrongly pruned a matching file would leave survivors of users
#       3/7 and shift every aggregate. (Iceberg DELETE FROM + bucket
#       spec; reference merge prunes on an identity date key only,
#       pyspark_functions.py:119-135.)
# ---------------------------------------------------------------------------
@register(
    "q142_bucket_pruned_delete",
    covers="table-layer M5-shape M9-shape P3 A1 hidden-partitioning",
    oracle=f"""
SELECT CAST(sum(CASE WHEN user_id NOT IN (3, 7) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rows_after,
       CAST(sum(CASE WHEN user_id IN (3, 7) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       {sql_sum("CASE WHEN user_id NOT IN (3, 7) THEN value ELSE 0 END")}
         AS value_after,
       TRUE AS prune_engaged,
       TRUE AS scan_in_victim_buckets,
       TRUE AS rewrite_bounded
FROM events
""",
)
def q142_bucket_pruned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import SnapshotTable
    from ..tables.transforms import parse_spec

    victims = [3, 7]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="bktdel_"))
    table.create_or_replace(ev, partitions=4, partition_by=["bucket(8, user_id)"])

    snap = table._read_snapshot(table.current_version())
    files_total = len(snap["files"])
    fld = parse_spec("bucket(8, user_id)")
    victim_dirs = {f"user_id_bucket8={fld.eval_literal(v, 'bigint')}" for v in victims}
    bucket_files = {
        rel for rel in snap["files"]
        if any(seg in victim_dirs for seg in rel.split("/"))
    }
    pf = [("user_id", "in", victims)]
    candidates = table.pruned_files(pf)

    keys = spark.createDataFrame([(v,) for v in victims], "user_id long")
    n_deleted = table.delete_keys(keys, on=["user_id"], prune_filters=pf)
    rewritten = int(
        table._read_snapshot(table.current_version())["summary"]["rewritten_files"]
    )
    return table.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_after"),
        F.lit(int(n_deleted)).cast("bigint").alias("n_deleted"),
        exact_sum(F.col("value")).alias("value_after"),
        F.lit(0 < len(candidates) < files_total).alias("prune_engaged"),
        F.lit(set(candidates) <= bucket_files).alias("scan_in_victim_buckets"),
        F.lit(rewritten <= len(candidates)).alias("rewrite_bounded"),
    )


# ---------------------------------------------------------------------------
# q143: MERGE touched-file discovery pruned by source-key metadata —
#       the row-level-op scan-planning receipt (Iceberg merge planning;
#       the reference's daily MERGE loop, notebook cells 26-45, scans
#       the full table per merge). Orders are CTAS'd range-clustered on
#       o_orderkey (12 files with disjoint key ranges via sort
#       compaction); a 1%-of-keys delta then MERGEs in: the discovery
#       scan reads only the files whose manifest stats admit a delta
#       key (discovery_candidates < files_total, receipt-pinned from
#       the commit summary), and rewritten_files stays within the
#       candidates. The merged contents — updated totals for delta
#       keys, untouched rows bit-identical — hash against a DuckDB
#       CASE-replay of the same upsert. At 100 TB this is the
#       difference between a daily merge that reads 100 TB to find its
#       touched files and one that reads the delta's key-range sliver.
# ---------------------------------------------------------------------------
@register(
    "q143_merge_discovery_prune",
    covers="table-layer M5-shape J2 A1 P5",
    oracle=f"""
WITH th AS (
  SELECT min(o_orderkey)
         + CAST(floor((max(o_orderkey) - min(o_orderkey)) / 20.0) AS BIGINT)
           AS v
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       {sql_sum("CASE WHEN o_orderkey <= (SELECT v FROM th) THEN 0.0 ELSE o_totalprice END")}
         AS untouched_price_sum,
       CAST(sum(CASE WHEN o_orderkey <= (SELECT v FROM th) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_updated,
       TRUE AS discovery_pruned,
       TRUE AS rewrite_within_candidates
FROM orders
""",
)
def q143_merge_discovery_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.snapshot_table import MergeClause, SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = SnapshotTable(spark, scratch_dir(prefix="mergedisc_"))
    table.create_or_replace(orders)
    table.compact(strategy="sort", sort_by=["o_orderkey"], target_files=12)
    files_total = len(table._read_snapshot(table.current_version())["files"])

    # the realistic delta shape: a contiguous slice of the keyspace
    # (~5% — "recent" keys), so range clustering has something to prune
    mm = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    th = int(mm["mn"]) + (int(mm["mx"]) - int(mm["mn"])) // 20
    delta = orders.filter(F.col("o_orderkey") <= th).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    table.merge(
        delta,
        on=["o_orderkey"],
        clause=MergeClause(
            matched_update={"o_totalprice": "s.o_totalprice"},
            insert_when_not_matched=True,
        ),
        mode="copy-on-write",
    )
    summ = table._read_snapshot(table.current_version())["summary"]
    cand, rew = int(summ["discovery_candidates"]), int(summ["rewritten_files"])
    return table.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        exact_sum(F.col("o_totalprice")).alias("untouched_price_sum"),
        F.sum((F.col("o_totalprice") == 0.0).cast("bigint"))
        .cast("bigint")
        .alias("n_updated"),
        F.lit(cand < files_total).alias("discovery_pruned"),
        F.lit(rew <= cand).alias("rewrite_within_candidates"),
    )
