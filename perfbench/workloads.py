"""The benchmark's workloads.

``derive``  4 closed-loop clients run the star-schema ``sql/`` files over
            views of bulk-loaded ``SnapshotTable``s (read-only).
``curate``  1 closed-loop client bulk-inserts lineitem with SCD2 columns,
            applies daily SCD2 deltas at 0.1%, 1% and 10% with read-backs
            after each, then a 99% restatement and a compaction.

Every input is generated here from the seed; the engine receives only
DataFrames read from the generated parquet. Each workload checks its own
outputs and reports a mismatch as a failed operation.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import re
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from spans import Recorder

SQL_DIR_NAME = "sql"
SMALL_SOURCE_BOUND = 1_000_000  # SnapshotTable.merge checkpoints sources at or below this
CURATE_KEYS = ["l_orderkey", "l_linenumber"]
TS = "extraction_timestamp"
DAILY_PROPORTIONS = (0.001, 0.01, 0.1)
RESTATE_PROPORTION = 0.99


@dataclass
class Context:
    spark: object
    rec: Recorder
    repo: str
    data_dir: str
    seed: int
    seconds: float
    clients: int
    corrupt: bool = False
    detail: dict = field(default_factory=dict)
    manifest: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    # (op, version, expected counts, label, delta info): snapshot checks run after the loop
    pending: list = field(default_factory=list)

    def fail(self, op, msg: str) -> None:
        op.ok = False
        op.error = msg


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, normalized like the oracle tests.

    The loose form: Spark types ``x / 100.0`` in SQL text as DECIMAL where the
    oracle yields DOUBLE, a difference of representation, not of value."""
    from tests.oracle_compare import normalize_rows

    norm = normalize_rows(list(columns), [tuple(r) for r in rows], strict=False)
    return hashlib.sha256(repr(norm).encode()).hexdigest()


# --------------------------------------------------------------------- derive
def star_query_files(repo: str) -> list[str]:
    """``sql/`` files that read only the star-schema tables, by name."""
    sql_dir = os.path.join(repo, SQL_DIR_NAME)
    out = []
    for f in sorted(os.listdir(sql_dir)):
        if not f.endswith(".sql"):
            continue
        text = open(os.path.join(sql_dir, f)).read()
        if not re.search(r"\b(from|join)\s+(documents|embeddings)\b", text, re.I):
            out.append(f[: -len(".sql")])
    return out


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB result digest of each query's registered oracle SQL."""
    from iceberg_evaluation_spark.plans import REGISTRY
    from tests.oracle_compare import duck_connection

    con = duck_connection(data_dir)
    con.execute("SET threads TO 1")  # stay out of the way of the Spark session starting beside it
    try:
        out = {}
        for n in names:
            res = con.execute(REGISTRY[n].oracle)
            out[n] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def derive_setup(ctx: Context, root: str) -> dict:
    """Bulk-load every star table into a SnapshotTable and register views."""
    from iceberg_evaluation_spark import sources
    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable

    live_files, tables = 0, []
    for t in datagen.STAR_TABLES:
        with ctx.rec.span("sources.load"):
            df = sources.load_table(ctx.spark, ctx.data_dir, t)
        tbl = SnapshotTable(ctx.spark, os.path.join(root, t))
        with ctx.rec.op("bulk_load") as op:
            tbl.create_or_replace(df)
        if not op.ok:
            raise RuntimeError(f"bulk load of {t} failed: {op.error}")
        tables.append(tbl)
        view = tbl.read()
        view.createOrReplaceTempView(t)
        live_files += len(view.inputFiles())
    return {"live_files": live_files, "tables": tables}


def derive_warmup(ctx: Context) -> None:
    """One trivial action per view absorbs scan and codegen set-up."""
    for t in datagen.STAR_TABLES:
        ctx.spark.table(t).count()


def derive_run(ctx: Context, oracle: dict[str, str]) -> None:
    names = sorted(oracle)
    texts = {n: open(os.path.join(ctx.repo, SQL_DIR_NAME, f"{n}.sql")).read() for n in names}
    rng = random.Random(ctx.seed)
    lock = threading.Lock()
    pending: list[str] = []
    passes = [0]
    deadline = time.time() + ctx.seconds
    corrupted = [not ctx.corrupt]

    def next_query() -> str | None:
        # passes are whole: a new seeded permutation starts only before the deadline
        with lock:
            if not pending:
                if time.time() >= deadline:
                    return None
                order = names[:]
                rng.shuffle(order)
                pending.extend(order)
                passes[0] += 1
            return pending.pop()

    def client() -> None:
        while (name := next_query()) is not None:
            with ctx.rec.op("query") as op:
                df = ctx.spark.sql(texts[name])
                with ctx.rec.span("plans.execute"):
                    rows = df.collect()
            if not op.ok:
                continue
            with lock:
                if not corrupted[0] and rows:
                    rows, corrupted[0] = rows[1:], True
            if result_hash(df.columns, rows) != oracle[name]:
                ctx.fail(op, f"{name}: result differs from the DuckDB oracle")

    t0 = time.time()
    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(ctx.clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.time() - t0
    lat = [o.seconds for o in ctx.rec.ops if o.kind == "query"]
    ctx.detail.update(
        queries_per_s=len(lat) / wall,
        query_p50_s=quantile(lat, 0.5),
        query_p90_s=quantile(lat, 0.9),
        query_samples=len(lat),
        passes=passes[0],
    )
    ctx.manifest.update(queries=len(names), passes=passes[0], query_runs=len(lat))


# --------------------------------------------------------------------- curate
class CurateInputs:
    """The generated lineitem load plus the state needed to check every merge."""

    def __init__(self, lineitem: pa.Table, seed: int, out_dir: str):
        self.dir = out_dir
        self.rng = np.random.default_rng([seed, 2])
        self.base = lineitem
        self.n = lineitem.num_rows
        self.qty = lineitem.column("l_quantity").to_numpy().copy()
        self.versions = np.ones(self.n, dtype=np.int64)
        self.total_rows = self.n
        self.load_qty_sum = float(self.qty.sum())
        self.day = 0
        os.makedirs(out_dir, exist_ok=True)
        self.load_path = self._write("load", np.arange(self.n), self.qty)

    def _write(self, tag: str, idx: np.ndarray, qty: np.ndarray) -> str:
        ts = pa.array(
            np.full(len(idx), datagen.ts_us(datetime.datetime(2024, 1, 1)) + self.day * datagen.US_PER_DAY),
            pa.timestamp("us"),
        )
        t = self.base.take(pa.array(idx)).set_column(
            self.base.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty, pa.float64())
        ).append_column(TS, ts)
        path = os.path.join(self.dir, f"{tag}-{self.day}.parquet")
        pq.write_table(t, path)
        return path

    def delta(self, proportion: float) -> tuple[str, dict]:
        """A seeded update batch: ``proportion`` of the keys get a new version."""
        self.day += 1
        k = max(1, int(round(proportion * self.n)))
        idx = np.sort(self.rng.choice(self.n, size=k, replace=False))
        new_qty = (self.qty[idx] % 50) + 1.0
        path = self._write("delta", idx, new_qty)
        info = {
            "day": self.day,
            "proportion": proportion,
            "update_rows": int(k),
            "source_rows": int(self.versions[idx].sum() + k),
        }
        info["source_vs_bound"] = info["source_rows"] / SMALL_SOURCE_BOUND
        self.qty[idx] = new_qty
        self.versions[idx] += 1
        self.total_rows += k
        return path, info

    def expected_counts(self) -> tuple:
        return (self.total_rows, self.n, self.n, 0)

    def probe_key(self) -> tuple[int, int, float]:
        i = int(self.rng.integers(self.n))
        return (
            int(self.base.column("l_orderkey")[i].as_py()),
            int(self.base.column("l_linenumber")[i].as_py()),
            float(self.qty[i]),
        )


def read_input(spark, path: str):
    """A generated lineitem load or delta, with its extraction time as TIMESTAMP."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).withColumn(TS, F.col(TS).cast("timestamp"))


def curate_setup(ctx: Context, root: str, cur: CurateInputs) -> dict:
    """Bulk-insert the lineitem load with SCD2 columns."""
    from iceberg_evaluation_spark.operators import scd2
    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable

    with ctx.rec.span("sources.load"):
        load = read_input(ctx.spark, cur.load_path)
    table = SnapshotTable(ctx.spark, os.path.join(root, "lineitem"))
    with ctx.rec.op("bulk_load") as op:
        scd2.bulk_insert(table, load, partitions=16)
    if not op.ok:
        raise RuntimeError(f"bulk load failed: {op.error}")
    return {"table": table, "tables": [table], "v1": table.current_version()}


def curate_warmup(ctx: Context, cur: CurateInputs, root: str) -> None:
    """Run the merge, check and read paths once on a 1% scratch copy, so the
    measured merges do not pay the JVM's first compilation of them."""
    from iceberg_evaluation_spark.operators import scd2
    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable

    small = CurateInputs(cur.base.slice(0, max(cur.n // 100, 10)), ctx.seed, root)
    table = SnapshotTable(ctx.spark, os.path.join(root, "lineitem"))
    scd2.bulk_insert(table, read_input(ctx.spark, small.load_path), partitions=16)
    path, _ = small.delta(0.1)
    scd2.scd2_complex(table, read_input(ctx.spark, path), keys=CURATE_KEYS)
    if check_counts(table) != small.expected_counts():
        raise RuntimeError("the warm-up merge produced a wrong table")


def verify_snapshots(ctx: Context, table) -> None:
    """Check the snapshot every merge and the compaction committed, by time
    travel once the loop is over: one current row per key, N current rows,
    total rows = load + new versions, and no key's intervals overlap."""
    for op, version, want, what, info in ctx.pending:
        got = check_counts(table, version)
        if got != want:
            ctx.fail(op, f"{what} (v{version}): (total, current, current keys, overlaps) = "
                         f"{got}, expected {want}")
        if ctx.rec.tracing and info is not None:
            _merge_layer_stats(ctx, table, version, info)


def check_counts(table, version: int | None = None) -> tuple:
    """(total rows, current rows, keys with a current row, overlapping intervals)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*CURATE_KEYS).orderBy("start_datetime")
    r = (
        table.read(version=version)
        .withColumn("__prev_end", F.lag("end_datetime").over(w))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("is_current").cast("long")).alias("current"),
            F.count_distinct(F.when(F.col("is_current"), F.struct(*CURATE_KEYS))).alias("keys"),
            F.sum((F.col("__prev_end") > F.col("start_datetime")).cast("long")).alias("overlaps"),
        )
        .collect()[0]
    )
    return (r["total"], r["current"], r["keys"], r["overlaps"] or 0)


def _read_backs(ctx: Context, table, cur: CurateInputs, v1: int) -> None:
    from pyspark.sql import functions as F

    with ctx.rec.op("read") as op:
        r = table.read().filter("is_current").agg(
            F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
        ).collect()[0]
    ctx.detail.setdefault("read_s", []).append(op.seconds)
    if op.ok and (r["n"], r["q"]) != (cur.n, float(cur.qty.sum())):
        ctx.fail(op, f"current aggregate {(r['n'], r['q'])} != {(cur.n, float(cur.qty.sum()))}")
    ok_key, ln, qty = cur.probe_key()
    with ctx.rec.op("read") as op:
        rows = (
            table.read()
            .filter((F.col("l_orderkey") == ok_key) & (F.col("l_linenumber") == ln) & F.col("is_current"))
            .select("l_quantity")
            .collect()
        )
    if ctx.corrupt and rows:
        rows, ctx.corrupt = rows[1:], False
    ctx.detail["read_s"].append(op.seconds)
    if op.ok and [x[0] for x in rows] != [qty]:
        ctx.fail(op, f"key lookup ({ok_key}, {ln}) -> {rows}, expected [{qty}]")
    with ctx.rec.op("read") as op:
        r = table.read(version=v1).agg(
            F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
        ).collect()[0]
    ctx.detail["read_s"].append(op.seconds)
    if op.ok and (r["n"], r["q"]) != (cur.n, cur.load_qty_sum):
        ctx.fail(op, f"time travel to v{v1} {(r['n'], r['q'])} != bulk load {(cur.n, cur.load_qty_sum)}")


def _merge(ctx: Context, kind: str, table, cur: CurateInputs, proportion: float):
    from iceberg_evaluation_spark.operators import scd2

    path, info = cur.delta(proportion)
    ctx.manifest.setdefault("merges", []).append(info)
    updates = read_input(ctx.spark, path)
    with ctx.rec.op(kind) as op:
        version = scd2.scd2_complex(table, updates, keys=CURATE_KEYS)
    if not op.ok:
        raise RuntimeError(f"{kind} failed: {op.error}")
    ctx.pending.append((op, version, cur.expected_counts(), f"{kind} day {info['day']}", info))
    return op


def _merge_layer_stats(ctx: Context, table, version: int, info: dict) -> None:
    import json

    from pyspark.sql import functions as F

    summary = json.loads(
        table.history().filter(F.col("version") == version).collect()[0]["summary"]
    )
    added = (
        table.files_metadata(version)
        .filter(F.col("added_in_version") == version)
        .agg(F.sum("record_count").alias("rows"), F.sum("file_size_bytes").alias("bytes"))
        .collect()[0]
    )
    ctx.layer.setdefault("merges", []).append({
        "candidates": summary.get("discovery_candidates", 0),
        "rewritten": summary.get("rewritten_files", 0),
        "rows_written": int(added["rows"] or 0),
        "bytes_written": int(added["bytes"] or 0),
        "changed_rows": 2 * info["update_rows"],
        "source_rows": info["source_rows"],
    })


def curate_run(ctx: Context, setup: dict, cur: CurateInputs) -> None:
    table, v1 = setup["table"], setup["v1"]
    deadline = time.time() + ctx.seconds
    t0 = time.time()
    days = 0
    # whole cycles: every run covers each daily proportion equally often
    while True:
        for p in DAILY_PROPORTIONS:
            op = _merge(ctx, "merge", table, cur, p)
            ctx.detail.setdefault("merge_s", []).append(op.seconds)
            _read_backs(ctx, table, cur, v1)
            days += 1
        if time.time() >= deadline:
            break

    op = _merge(ctx, "restate", table, cur, RESTATE_PROPORTION)
    ctx.detail["restate_s"] = op.seconds
    _read_backs(ctx, table, cur, v1)

    files_in = _live_files(table)
    with ctx.rec.op("compact") as op:
        version = table.compact()
    ctx.detail["compact_s"] = op.seconds
    ctx.pending.append((op, version, cur.expected_counts(), "compact", None))
    files_out = _live_files(table)
    ctx.layer.update(compact_files_in=files_in, compact_files_out=files_out, live_files=files_out)
    ctx.detail.update(days=days, loop_s=time.time() - t0, rows=cur.n)


def _live_files(table) -> int:
    return len(table.read().inputFiles())


def space_amp(tables: list) -> float:
    """Bytes under the table roots / bytes of the current snapshots' data files."""
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for t in tables
        for d, _, fs in os.walk(t.root)
        for f in fs
    )
    live = sum(
        os.path.getsize(p.removeprefix("file:")) for t in tables for p in t.read().inputFiles()
    )
    return total / live


def quantile(values: list[float], q: float) -> float:
    return float(np.quantile(np.array(values), q)) if values else float("nan")
