"""Sources: the engine's scan surface (SURVEY.md §2.1 S1-S4).

The driver testdata is a TPC-H-ish star schema plus ``events`` (stream-
shaped), ``documents`` and ``embeddings`` (training-data pipeline tables),
one parquet file per table (TESTDATA.md). Reads are plain parquet scans
so Catalyst keeps predicate pushdown / column pruning / partition pruning
(reference relied on the same via Iceberg manifests,
``docs/README.md:123-129``).

Schemas come from the parquet footer, read on the driver: Iceberg's
``add_files``/``migrate`` take a table's schema from the footer the same
way, and never infer. A bare ``spark.read.parquet(path)`` runs a
schema-inference Spark job per call (~0.08 s warm here, whatever the
size); ``footer_schema`` reads the one file's footer with pyarrow and
returns exactly the ``StructType`` that inference would, so the scan is
built with ``spark.read.schema(s)`` and runs no job. Where the footer
holds anything it cannot map with certainty it returns ``None`` and the
read falls back to inference unchanged (see ``footer_schema``).
"""

from __future__ import annotations

import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "TABLES",
    "footer_schema",
    "load_table",
    "register_star_schema",
    "read_csv",
    "read_json",
]

#: every table the driver materializes (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: small dimensions worth broadcast-joining at any scale factor
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

#: footer key of Spark-written files: Spark's inference takes the schema
#: from it (char/varchar, field metadata) rather than the parquet types
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: un-annotated physical types, as Spark's ParquetToSparkSchemaConverter
#: maps them (BYTE_ARRAY depends on ``binaryAsString``; INT96 is absent)
_PLAIN = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
}

#: signed INT annotations: (physical type, bit width) -> Spark type
_SIGNED_INT = {
    ("INT32", 8): T.ByteType(),
    ("INT32", 16): T.ShortType(),
    ("INT32", 32): T.IntegerType(),
    ("INT64", 64): T.LongType(),
}


def _conf_on(spark: SparkSession, key: str) -> bool:
    return spark.conf.get(key).strip().lower() == "true"


def _read_footer(path: str) -> pq.FileMetaData | None:
    """The footer of ONE local parquet file; ``None`` for a directory, a
    missing path or an unreadable file, so Spark raises its own error."""
    if not os.path.isfile(path):
        return None
    try:
        return pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None


def _decimal_limit(col: pq.ColumnSchema) -> int:
    """Largest precision Spark accepts for a DECIMAL on this column."""
    if col.physical_type == "INT32":
        return 9
    if col.physical_type == "INT64":
        return 18
    if col.physical_type == "FIXED_LEN_BYTE_ARRAY":
        return min(38, math.floor(math.log10(2 ** (8 * col.length - 1) - 1)))
    return 38  # BYTE_ARRAY


def _primitive_type(col: pq.ColumnSchema, conf: dict) -> T.DataType | None:
    """Spark's type for one primitive leaf, or ``None`` when unsure."""
    phys, logical = col.physical_type, col.logical_type
    kind = logical.type
    if kind == "NONE":
        if col.converted_type != "NONE":
            return None  # legacy annotation pyarrow could not map
        if phys == "BYTE_ARRAY":
            return T.StringType() if conf["binary_as_string"] else T.BinaryType()
        return _PLAIN.get(phys)  # INT96 -> None
    if kind == "STRING" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind == "DATE" and phys == "INT32":
        return T.DateType()
    if kind == "INT":
        spec = json.loads(logical.to_json())
        if not spec["isSigned"]:
            return None  # Spark widens unsigned ints (uint64 -> decimal)
        return _SIGNED_INT.get((phys, spec["bitWidth"]))
    if kind == "DECIMAL":
        p, s = col.precision, col.scale
        if 0 < p <= _decimal_limit(col) and 0 <= s <= p:
            return T.DecimalType(p, s)
        return None
    if kind == "TIMESTAMP" and phys == "INT64":
        spec = json.loads(logical.to_json())
        if spec["timeUnit"] not in ("milliseconds", "microseconds"):
            return None  # NANOS: rejected, or a long under nanosAsLong
        if spec["isAdjustedToUTC"] or not conf["infer_ntz"]:
            return T.TimestampType()
        return T.TimestampNTZType()
    return None  # JSON/ENUM/BSON/UUID/TIME/FLOAT16/INTERVAL/UNKNOWN, ...


def _list_element(root: pa.Field, col: pq.ColumnSchema) -> bool:
    """True when ``col`` is the element of a standard 3-level LIST of a
    primitive (``<root> (LIST) { repeated group <mid> { <element> } }``),
    the one list shape Spark maps to ``array<element>``; 2-level legacy
    lists and ``array``/``<name>_tuple`` middles make a struct element."""
    if not pa.types.is_list(root.type) or pa.types.is_nested(root.type.value_type):
        return False
    if root.type.value_field.metadata or "." in root.name or "." in col.name:
        return False
    head, tail = root.name + ".", "." + col.name
    path = col.path
    if not (path.startswith(head) and path.endswith(tail)):
        return False
    mid = path[len(head) : len(path) - len(tail)]
    return bool(mid) and "." not in mid and mid not in ("array", root.name + "_tuple")


def _footer_to_struct(spark: SparkSession, md: pq.FileMetaData) -> T.StructType | None:
    if _SPARK_ROW_METADATA in (md.metadata or {}):
        return None
    leaves = md.schema
    roots = leaves.to_arrow_schema()
    if not len(roots) or len(roots) != len(leaves):
        return None  # no columns, or a struct/map root spans several leaves
    lowered = [f.name.lower() for f in roots]
    if len(set(lowered)) != len(lowered):
        return None  # Spark's case-insensitive resolution rules apply
    conf = {
        "binary_as_string": _conf_on(spark, "spark.sql.parquet.binaryAsString"),
        "infer_ntz": _conf_on(spark, "spark.sql.parquet.inferTimestampNTZ.enabled"),
    }
    fields = []
    for i, root in enumerate(roots):
        col = leaves.column(i)
        if root.metadata:
            return None  # parquet field ids surface as Spark field metadata
        if col.max_repetition_level == 0 and col.path == root.name:
            dtype = None if pa.types.is_nested(root.type) else _primitive_type(col, conf)
        elif col.max_repetition_level == 1 and _list_element(root, col):
            element = _primitive_type(col, conf)
            dtype = None if element is None else T.ArrayType(element, True)
        else:
            dtype = None
        if dtype is None:
            return None
        fields.append(T.StructField(root.name, dtype, True))
    return T.StructType(fields)


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The ``StructType`` ``spark.read.parquet(path)`` would infer for ONE
    local parquet file, read from its footer on the driver (pyarrow, no
    Spark job), or ``None`` where the footer is not certain to map.

    Mapped as Spark's ParquetToSparkSchemaConverter does, every field
    nullable (file sources read ``asNullable``): flat BOOLEAN, INT32,
    INT64, FLOAT, DOUBLE; signed INT8/16/32/64 annotations to
    byte/short/int/long; STRING to string; un-annotated BYTE_ARRAY to
    binary, or string under ``spark.sql.parquet.binaryAsString``;
    un-annotated FIXED_LEN_BYTE_ARRAY to binary; DATE; DECIMAL(p,s)
    within the physical type's precision; MILLIS/MICROS TIMESTAMP to
    timestamp, or to timestamp_ntz when not UTC-adjusted while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on; a standard
    3-level LIST of one of those to ``array``.

    ``None`` (the caller infers as before) for: a directory, a missing or
    unreadable path, a struct or map, any other list shape, INT96,
    unsigned ints, NANOS timestamps, any other annotation, parquet field
    ids, a footer carrying Spark's ``row.metadata`` key, and column names
    that collide case-insensitively."""
    md = _read_footer(path)
    return None if md is None else _footer_to_struct(spark, md)


def _has_nanos_ts(md: pq.FileMetaData | None, name: str) -> bool:
    if md is None:
        return False
    for i in range(len(md.schema)):
        col = md.schema.column(i)
        if col.path == name and col.logical_type.type == "TIMESTAMP":
            return json.loads(col.logical_type.to_json())["timeUnit"] == "nanoseconds"
    return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (S1). Pushdown-friendly: no caching,
    no schema mangling — the parquet footer schema is authoritative: it
    is read on the driver (``footer_schema``) and handed to the reader,
    so building the scan runs no Spark job. Footers it cannot map (see
    ``footer_schema`` for the list) fall back to ``spark.read.parquet``'s
    inference, which yields the same schema one job later.

    Exception: ``events.ts`` — the driver has shipped it both as
    TIMESTAMP(NANOS) (which Spark's parquet reader rejects; read as
    nano-longs and floored to microseconds) and as plain timestamp[us]
    (read as TIMESTAMP_NTZ). The footer picks the layout: only a NANOS
    ``ts`` sets ``spark.sql.legacy.parquet.nanosAsLong`` (session-wide)
    and infers. Both layouts are normalized to a session-UTC TIMESTAMP so
    downstream plans see one type regardless of vintage (same
    normalization the reference applies for Athena's timestamp(6),
    SURVEY §1.2)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    md = _read_footer(path)
    schema = None if md is None else _footer_to_struct(spark, md)
    if name == "events" and _has_nanos_ts(md, "ts"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name != "events":
        return df
    from pyspark.sql import functions as F

    ts_type = (schema or df.schema)["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # Legacy ns-as-long layout. INTEGER division: `/ 1000` would
        # promote the epoch-ns long (~1.7e18, above double's 2^53
        # exact range) to double and drift the floor by ±1µs on most
        # rows — `div` keeps it exact and bit-identical to DuckDB's
        # ns→µs truncation of the same files.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # timestamp[us] layout: cast NTZ → session-tz TIMESTAMP (the
        # session is pinned to UTC, so the wall-clock value — and the
        # DuckDB oracle's naive read of the same file — is unchanged).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (S2) and return the
    DataFrames. Views make the SQL path (``spark.sql``) equivalent to the
    DataFrame path — same Catalyst plan either way."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """CSV source (S4; reference tutorial feed ``create_dummy_deltas.py:6``).
    Explicit schema preferred — ``inferSchema`` double-scans the input."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    """JSON-lines source. Schema required for production use (inference
    scans twice and can mistype sparse columns)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)
