"""Building a ``SnapshotTable`` read runs no Spark job at any file count:
the manifest names every file, so the scan never needs Spark's parallel
listing job (which it runs for more than 32 explicit paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable
from tests.test_merge_auto_mode import _jobs


@pytest.mark.parametrize("n_files", [33, 100])
def test_read_builds_without_a_job(spark, tmp_path, n_files):
    rows = 20 * n_files
    df = spark.range(rows).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    table = SnapshotTable(spark, str(tmp_path / "t"))
    table.create_or_replace(df, partitions=n_files)
    built = []
    assert _jobs(spark, lambda: built.append(table.read())) == 0
    got = built[0].agg(F.count(F.lit(1)), F.sum("v")).collect()[0]
    assert tuple(got) == tuple(df.agg(F.count(F.lit(1)), F.sum("v")).collect()[0])
    assert got[0] == rows
    assert len(built[0].inputFiles()) == n_files


def test_partitioned_read_builds_without_a_job(spark, tmp_path):
    df = spark.range(800).select(F.col("id").alias("k"), (F.col("id") % 40).alias("p"))
    table = SnapshotTable(spark, str(tmp_path / "t"))
    table.create_or_replace(df, partition_by=["p"])
    built = []
    assert _jobs(spark, lambda: built.append(table.read())) == 0
    assert built[0].count() == 800
    assert built[0].columns == ["k", "p"]
    assert built[0].select("p").distinct().count() == 40
