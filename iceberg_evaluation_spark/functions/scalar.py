"""Collect SCALAR-OUTPUT probe frames without the AQE job swarm.

The lifecycle/classify pipelines are driver-bound at delta scale: event
-log traces (r11 wave 6, re-measured r12) show half their wall is
inter-job driver gaps, and most of the jobs are AQE stage
materializations — every Exchange in a probe plan becomes its own job
with 30-150 ms of re-planning between. For a frame whose OUTPUT is
scalar (a global aggregate, a distinct over a bounded key domain),
adaptive execution has nothing to offer at ANY data size: there is no
post-shuffle partition worth coalescing on a 1-row result, no skew to
split on a single-key exchange, and no join in the plan (or the join's
build side is explicitly broadcast-pinned by the caller). Planning such
an action with AQE off collapses its 2-4 sub-jobs into ONE job with no
re-planning gaps — same result, same scan shape, strictly fewer driver
round trips (guide §5-driver / §7.3).

Scoping rules (what keeps this safe):

- Only the probe's OWN action is planned inside the window. Frames
  created elsewhere (localCheckpoints, table reads) fixed their plans
  when they were built; a session-conf toggle cannot reach them.
- Never wrap a WRITE: output file counts follow the final plan's
  partitioning, and commit summaries record file counts. Scalar
  collects cannot observe partitioning, so their results are
  AQE-independent by construction.
- Callers must not pass plans with size-estimate-dependent join
  strategy choices unless the small side carries an explicit
  ``F.broadcast`` hint — without AQE there is no runtime SMJ→BHJ
  rescue. Every call site in this repo either has no join at all or
  pins the bounded side.
- The toggle is session-visible for the duration of one collect. The
  bench and the external driver run queries sequentially, and every
  in-query streaming pattern awaits its batches (foreachBatch bodies
  run their own probes inside the same thread); a concurrently planned
  query would at worst plan one query without AQE — a performance
  effect, never a result change, because writes are out of scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

__all__ = ["scalar_collect", "scalar_count", "scalar_first"]

_KEY = "spark.sql.adaptive.enabled"


def _scoped(df: DataFrame, action):
    spark = df.sparkSession
    try:
        prev = spark.conf.get(_KEY)
    except Exception:
        prev = None
    if prev != "true":
        # already off (or unreadable): nothing to scope
        return action()
    spark.conf.set(_KEY, "false")
    try:
        return action()
    finally:
        spark.conf.set(_KEY, "true")


def scalar_collect(df: DataFrame) -> list[Row]:
    """Collect a scalar-output frame as ONE job (AQE off for this plan)."""
    return _scoped(df, df.collect)


def scalar_first(df: DataFrame) -> Row:
    """``scalar_collect`` for the 1-row global-aggregate shape."""
    return scalar_collect(df)[0]


def scalar_count(df: DataFrame) -> int:
    """``df.count()`` planned as ONE job. Only for frames whose count
    plan needs no runtime join rescue: scans, checkpoint reads, or
    plans whose joins are already broadcast-pinned."""
    return _scoped(df, df.count)
