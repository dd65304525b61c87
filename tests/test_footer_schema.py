"""``sources.footer_schema``: the driver-side footer read must return
exactly the schema ``spark.read.parquet`` infers, or ``None`` (the reader
then infers as before); ``load_table`` builds its scans without a Spark
job, and picks the ``events.ts`` layout from the footer."""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from iceberg_evaluation_spark.sources import (
    TABLES,
    footer_schema,
    load_table,
    register_star_schema,
)
from tests.test_merge_auto_mode import _jobs

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
TESTDATA = sorted(glob.glob("/root/testdata/*/*.parquet"))


def _write(tmp_path, table: pa.Table, **kw) -> str:
    path = str(tmp_path / f"{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(table, path, **kw)
    return path


def _col(values, typ) -> pa.Table:
    return pa.table({"c": pa.array(values, typ)})


TS = [dt.datetime(2024, 1, 2, 3, 4, 5, 678000), None]
TSZ = [dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc), None]

#: one synthetic file per type the footer read maps
SUPPORTED = {
    "int8": _col([1, None, -3], pa.int8()),
    "int16": _col([1, None, -3], pa.int16()),
    "int32": _col([1, None, -3], pa.int32()),
    "int64": _col([1, None, -3], pa.int64()),
    "float": _col([1.5, None], pa.float32()),
    "double": _col([1.5, None], pa.float64()),
    "bool": _col([True, None], pa.bool_()),
    "string": _col(["a", None], pa.string()),
    "dict_string": pa.table({"c": pa.array(["a", "b", "a", None]).dictionary_encode()}),
    "binary": _col([b"\x00\x01", None], pa.binary()),
    "fixed_binary": _col([b"ab", None], pa.binary(2)),
    "date": _col([dt.date(2024, 1, 2), None], pa.date32()),
    "ts_ms": _col(TS, pa.timestamp("ms")),
    "ts_us": _col(TS, pa.timestamp("us")),
    "ts_ms_tz": _col(TSZ, pa.timestamp("ms", tz="UTC")),
    "ts_us_tz": _col(TSZ, pa.timestamp("us", tz="America/New_York")),
    "decimal_9_2": _col([Decimal("1234567.89"), None], pa.decimal128(9, 2)),
    "decimal_18_4": _col([Decimal("12345678901234.5678"), None], pa.decimal128(18, 4)),
    "decimal_38_10": _col([Decimal("1234567890.0123456789"), None], pa.decimal128(38, 10)),
    "list_float": _col([[1.0, None], None, []], pa.list_(pa.float32())),
    "list_string": _col([["a"], None], pa.list_(pa.string())),
    "list_required": pa.table(
        {"c": pa.array([[1]], pa.list_(pa.field("element", pa.int64(), nullable=False)))}
    ),
    "required_cols": pa.Table.from_arrays(
        [pa.array([1]), pa.array(["x"])],
        schema=pa.schema(
            [pa.field("a", pa.int64(), nullable=False), pa.field("b", pa.string(), nullable=False)]
        ),
    ),
    "zero_rows": pa.table(
        {"a": pa.array([], pa.int32()), "b": pa.array([], pa.string())}
    ),
    "many": pa.table(
        {
            "k": pa.array([1], pa.int64()),
            "name": pa.array(["x"]),
            "d": pa.array([dt.date(2024, 1, 1)]),
            "amount": pa.array([Decimal("1.25")], pa.decimal128(9, 2)),
            "ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us")),
        }
    ),
}

#: files the footer read must decline (``None``)
FALLBACK = {
    "struct": pa.table({"c": pa.array([{"x": 1, "y": "a"}])}),
    "single_field_struct": pa.table({"c": pa.array([{"x": 1}])}),
    "map": _col([[(1, "a")]], pa.map_(pa.int32(), pa.string())),
    "list_of_struct": _col([[{"x": 1}]], pa.list_(pa.struct([("x", pa.int64())]))),
    "list_of_list": _col([[[1]]], pa.list_(pa.list_(pa.int64()))),
    "uint32": _col([1, None], pa.uint32()),
    "uint64": _col([1, None], pa.uint64()),
    "timestamp_ns": _col(TS, pa.timestamp("ns")),
    "case_collision": pa.table({"a": [1], "A": [2]}),
    "no_columns": pa.table({}),
}


@pytest.mark.parametrize("path", TESTDATA, ids=lambda p: os.path.relpath(p, "/root/testdata"))
def test_testdata_footer_schema_matches_inference(spark, path):
    got = footer_schema(spark, path)
    assert got is None or got == spark.read.parquet(path).schema


@pytest.mark.parametrize("case", sorted(SUPPORTED))
def test_supported_type_matches_inference(spark, tmp_path, case):
    path = _write(tmp_path, SUPPORTED[case])
    got = footer_schema(spark, path)
    assert got is not None
    assert got == spark.read.parquet(path).schema


def test_plain_encoded_columns_match_inference(spark, tmp_path):
    """Encoding is not schema: plain-encoded strings and decimals read
    the same as their dictionary-encoded twins."""
    t = pa.table(
        {
            "s": pa.array(["a", "b"]),
            "d9": pa.array([Decimal("1.25"), None], pa.decimal128(9, 2)),
            "d18": pa.array([Decimal("1.2500"), None], pa.decimal128(18, 4)),
        }
    )
    path = _write(tmp_path, t, use_dictionary=False)
    got = footer_schema(spark, path)
    assert got is not None and got == spark.read.parquet(path).schema


def test_binary_as_string_and_ntz_confs_are_honoured(spark, tmp_path):
    path = _write(
        tmp_path,
        pa.table({"b": pa.array([b"x", None], pa.binary()), "t": pa.array(TS, pa.timestamp("us"))}),
    )
    keys = ("spark.sql.parquet.binaryAsString", "spark.sql.parquet.inferTimestampNTZ.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "true")
        spark.conf.set(keys[1], "false")
        got = footer_schema(spark, path)
        assert got == spark.read.parquet(path).schema
        assert [f.dataType for f in got] == [T.StringType(), T.TimestampType()]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("case", sorted(FALLBACK))
def test_uncertain_footer_falls_back(spark, tmp_path, case):
    assert footer_schema(spark, _write(tmp_path, FALLBACK[case])) is None


def test_int96_field_id_and_spark_written_files_fall_back(spark, tmp_path):
    int96 = _write(tmp_path, _col(TS, pa.timestamp("us")), use_deprecated_int96_timestamps=True)
    assert pq.read_metadata(int96).schema.column(0).physical_type == "INT96"
    assert footer_schema(spark, int96) is None

    field = pa.field("c", pa.int64(), metadata={b"PARQUET:field_id": b"7"})
    with_id = _write(tmp_path, pa.Table.from_arrays([pa.array([1])], schema=pa.schema([field])))
    assert footer_schema(spark, with_id) is None

    out = str(tmp_path / "spark_written")
    spark.range(3).write.parquet(out)
    part = glob.glob(os.path.join(out, "*.parquet"))[0]
    assert footer_schema(spark, part) is None


def test_directory_and_missing_path_fall_back(spark, tmp_path):
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"a": [i]}), str(parts / f"part-{i}.parquet"))
    assert footer_schema(spark, str(parts)) is None
    assert footer_schema(spark, str(tmp_path / "nope.parquet")) is None
    not_parquet = tmp_path / "bad.parquet"
    not_parquet.write_text("not parquet")
    assert footer_schema(spark, str(not_parquet)) is None


def test_missing_table_raises_as_before(spark, tmp_path):
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(tmp_path / "region.parquet"))
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "region")


def test_register_star_schema_runs_no_spark_job(spark, sf_smoke):
    views: dict = {}
    assert _jobs(spark, lambda: views.update(register_star_schema(spark, sf_smoke))) == 0
    assert set(views) == set(TABLES)
    for name, df in views.items():
        inferred = spark.read.parquet(os.path.join(sf_smoke, f"{name}.parquet"))
        if name != "events":  # events.ts is normalised on top of the file
            assert df.schema == inferred.schema, name
        assert df.count() == inferred.count(), name


def _events_table(ts_unit: str) -> pa.Table:
    base = int(dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    ns = [base + i * 1_234_567_891 for i in range(5)]
    ts = ns if ts_unit == "ns" else [v // 1000 for v in ns]
    return pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(ts, pa.timestamp(ts_unit)),
            "user_id": pa.array([1, 2, 1, 3, 2], pa.int64()),
        }
    )


def test_events_layout_comes_from_the_footer(spark, tmp_path):
    before = spark.conf.get(NANOS_AS_LONG)
    loaded = {}
    try:
        spark.conf.set(NANOS_AS_LONG, "false")
        for unit in ("us", "ns"):
            sf = tmp_path / unit
            sf.mkdir()
            pq.write_table(_events_table(unit), str(sf / "events.parquet"))
            loaded[unit] = load_table(spark, str(sf), "events")
            if unit == "us":
                # the µs layout needs no legacy flag and leaves it alone
                assert spark.conf.get(NANOS_AS_LONG) == "false"
        assert spark.conf.get(NANOS_AS_LONG) == "true"
    finally:
        spark.conf.set(NANOS_AS_LONG, before)
    us, ns = loaded["us"], loaded["ns"]
    assert us.schema["ts"].dataType == T.TimestampType()
    assert us.schema == ns.schema
    assert sorted(us.collect()) == sorted(ns.collect())
    # the µs layout's scan is built from its footer: no inference job
    sf_us = str(tmp_path / "us")
    assert _jobs(spark, lambda: load_table(spark, sf_us, "events")) == 0
