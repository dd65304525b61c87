"""Structured Streaming surface (SURVEY.md §2.10).

The reference is batch-only — CDC deltas arrive as daily file drops and
are applied by the M2/M3/M5 merges. This module adds the natural Spark
extension: a ``foreachBatch`` wrapper that feeds micro-batches into the
same SCD2-complex operator (exactly-once per epoch via the snapshot
table's atomic commit), plus watermarked event-time aggregation over the
``events``-shaped stream.

Scale notes: ``foreachBatch`` + scd2_complex keeps the merge incremental
(only keys present in the micro-batch are re-windowed; small batches
commit merge-on-read, large ones rewrite only touched files); the
windowed aggregation uses a watermark so state is bounded by (watermark
horizon × key cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.scd2 import scd2_complex
from ..tables.snapshot_table import ConcurrentCommitError, SnapshotTable

__all__ = [
    "IdempotentEpochSink",
    "cdc_consumer_stream",
    "scd2_stream",
    "windowed_event_counts",
]


class IdempotentEpochSink:
    """Exactly-once ``foreachBatch`` APPEND sink on the snapshot layer.

    Structured Streaming's ``foreachBatch`` is at-least-once: a crash
    between the sink write and the checkpoint commit REPLAYS the epoch,
    and a plain append would double-write it (the failure mode Spark's
    own docs tell you to dedup with ``batchId``). This sink records the
    epoch id INSIDE the snapshot summary — the same atomic commit as
    the data — so "was this epoch written?" and "write it" cannot
    diverge across a crash. A replayed epoch is detected by scanning
    the snapshot log (manifest-scale, driver-side) and skipped.

    Per-query isolation: ``query_id`` is REQUIRED and must be stable
    across restarts (derive it from the stream's checkpoint location);
    epochs are tracked per query_id because Spark restarts epoch
    numbering per checkpoint. A shared default would silently alias two
    streams' epoch sequences on a shared sink table — stream B's epoch
    N skipped because stream A already committed an epoch ≥ N (r8
    ADVICE) — so there is none, and two sinks claiming the same
    query_id on one table is exactly the replay case the epoch marker
    already de-duplicates.

    Cost shape: the snapshot log is scanned INCREMENTALLY — a version
    watermark caches how far the log has been read, so each micro-batch
    reads only the manifests committed since the previous one (a naive
    full-log rescan would be O(batches²) driver IO over a long stream).
    Expiring the sink table's history is always replay-safe:
    ``expire_snapshots`` carries the max epoch marker per query_id
    forward into the ``epoch_marks/`` sidecar before deleting any
    manifest, and this scan folds that floor in — so even a quiet
    stream whose newest marker scrolled past the retention horizon
    (rival writers kept committing) still detects its replayed epoch.
    """

    def __init__(self, table: SnapshotTable, query_id: str):
        if not query_id or not isinstance(query_id, str):
            raise ValueError(
                "query_id is required and must be a non-empty string: "
                "two streams sharing a sink table without distinct ids "
                "would silently drop each other's epochs"
            )
        self.table = table
        self.query_id = query_id
        self._scanned_version = 0  # log watermark for the incremental scan
        self._last_epoch = -1
        self._floor_seeded = False

    def last_epoch(self) -> int:
        """Highest epoch this query_id has durably committed (-1 if none)."""
        if not self.table.exists():
            return -1
        hit_expired = False
        cur = self.table.current_version()
        for v in range(self._scanned_version + 1, cur + 1):
            try:
                summ = self.table._read_snapshot(v).get("summary") or {}
            except FileNotFoundError:
                hit_expired = True  # marker carried into epoch_marks/
                continue
            if summ.get("sink_query_id") == self.query_id:
                self._last_epoch = max(
                    self._last_epoch, int(summ.get("sink_epoch_id", -1))
                )
        self._scanned_version = max(self._scanned_version, cur)
        if hit_expired or not self._floor_seeded:
            self._last_epoch = max(
                self._last_epoch,
                self.table.sink_epoch_floors().get(self.query_id, -1),
            )
            self._floor_seeded = True
        return self._last_epoch

    def write(self, batch_df: DataFrame, epoch_id: int) -> bool:
        """Append one micro-batch exactly once; returns False for a
        replayed (already-committed) epoch. Empty batches are skipped
        without consuming the epoch — replaying one is harmless.

        Two streams sharing one sink table contend on the snapshot
        commit; the loser gets ConcurrentCommitError (the optimistic-
        concurrency model) and is retried here against fresh state —
        our own epoch cannot have landed meanwhile (one writer per
        query_id), so the retry is idempotent by construction. Without
        this loop a rival stream's commit would fail this stream's
        micro-batch and kill the query."""
        if int(epoch_id) <= self.last_epoch():
            return False  # replay after a crash-before-checkpoint
        if batch_df.isEmpty():
            return False
        extra = {
            "sink_query_id": self.query_id,
            "sink_epoch_id": int(epoch_id),
        }
        for _ in range(20):
            try:
                if self.table.exists():
                    self.table.append(batch_df, summary_extra=extra)
                else:
                    # a rival stream can win the CREATE race too:
                    # expected_version=0 makes this a CREATE, never a
                    # REPLACE — if the rival's create landed between our
                    # exists() check and this commit, we get
                    # ConcurrentCommitError instead of clobbering its
                    # epoch, and the retry lands as an append
                    self.table.create_or_replace(
                        batch_df, summary_extra=extra, expected_version=0
                    )
                return True
            except ConcurrentCommitError:
                continue  # rival stream's epoch landed first; re-read
        raise ConcurrentCommitError(
            f"epoch {epoch_id} of {self.query_id!r} lost the commit race "
            "20 times; sink table under pathological contention"
        )


def cdc_consumer_stream(
    spark,
    ticks_dir: str,
    replica_root: str,
    source_root: str,
    checkpoint_dir: str,
    *,
    step: bool = False,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Long-running CDC consumer (r9 verdict #3): a REAL Structured
    Streaming job whose micro-batches poll the source snapshot log and
    advance the cursor-tracked replica through ``sync_replica`` — the
    continuous composition of the batch-call-per-window consumer
    (operators/changelog.py) with the q132 streaming recipe.

    Exactly-once comes from the CURSOR, not an epoch marker: each
    applied window stamps the new applied-version INTO its own data
    commit, so a micro-batch replayed after a crash (foreachBatch is
    at-least-once) re-reads the cursor from disk, finds it already at
    the window's end, and applies nothing. The poll closure holds NO
    consumer state — fresh table handles per batch — so a killed and
    restarted job resumes purely from the durable cursor, told nothing.

    ``ticks_dir`` is the poll schedule: a file-source stream whose
    arriving files trigger batches. In production point it at a
    heartbeat drop (or swap in a rate source) with
    ``trigger_seconds``; in tests/harness a pre-written set of tick
    files + ``availableNow`` pins the batch count. ``step=True`` bounds
    each poll to ONE source version (bounded work per batch — the
    backpressure knob); default drains to the head.

    Per-batch cost is |window changes| (one delete-aware MERGE) plus a
    driver-side manifest read when idle — a quiet source costs no Spark
    job at all."""
    from ..operators.changelog import replica_cursor, sync_replica
    from ..tables.snapshot_table import SnapshotTable

    def poll(batch_df: DataFrame, epoch_id: int) -> None:
        rep = SnapshotTable(spark, replica_root)
        src = SnapshotTable(spark, source_root)
        head = src.current_version()
        at = int(replica_cursor(rep)["applied_version"])
        if head <= at:
            return  # idle poll: manifest read only, no Spark job
        sync_replica(rep, src, to_version=at + 1 if step else head)

    stream = (
        spark.readStream.schema("tick bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(ticks_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(poll)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scd2_stream(
    source: DataFrame,
    table: SnapshotTable,
    keys: list[str] | None = None,
    ts_col: str = "extraction_timestamp",
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Apply SCD2-complex maintenance continuously from a streaming source.

    ``source`` must be a streaming DataFrame (``spark.readStream...``)
    with the target's business columns + ``ts_col``. Late/out-of-order
    updates are handled by the re-windowing inside scd2_complex, so no
    watermark is needed for correctness — the stream is just a transport
    for CDC batches (same model as the reference's daily file drops).
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scd2_complex(table, batch_df, keys=keys, ts_col=ts_col)

    writer = source.writeStream.foreachBatch(apply_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (append-mode safe).

    Works on both streaming and batch DataFrames — the batch form is the
    oracle-checked q25; the streaming form is exercised by the memory-sink
    test. State per key is dropped once the watermark passes the window
    end, bounding memory at any scale.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total_value")
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once dedup: drop re-delivered events by key.

    ``dropDuplicates`` over (keys…, event-time) with a watermark keeps
    per-key state only until the watermark passes — bounded memory at
    any stream length (the unwatermarked form grows state forever).
    Works identically on batch DataFrames for backfills.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def enrich_stream(
    events: DataFrame,
    dimension: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a stream against a (small) static
    dimension. Spark broadcasts the static side into every micro-batch —
    no stream-side shuffle, no state. The dimension snapshot is re-read
    per batch, so slowly-changing dims pick up updates batch-to-batch;
    for point-in-time correctness against history use operators.asof
    on the SCD2 table instead.
    """
    return events.join(dimension, on, how)
