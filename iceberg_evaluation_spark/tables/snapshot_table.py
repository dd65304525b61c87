"""Snapshot-versioned parquet table layer.

PySpark-native re-expression of the reference's Iceberg table usage
(``src/data_curation/glue_jobs/pyspark_functions.py:30,325-329``;
``generate_tpcds.py:203-210``; time travel + OPTIMIZE in
``updating_db_with_deltas_iceberg.ipynb`` cells 41-45): the Iceberg
runtime jar is not in this environment, so the same semantics —
create/CTAS, append, MERGE INTO with conditional clauses, snapshot
history, timestamp time travel, bin-pack compaction, snapshot expiry —
are implemented over immutable parquet files plus JSON manifest
snapshots, exactly the manifest/snapshot design Iceberg uses.

Layout::

    <root>/
      data/commit-<n>-<uuid>/part-*.parquet   immutable data files
      snapshots/v<0000000n>.json              manifest: file list + metadata
      VERSION                                 current-version pointer (atomic rename)

Scale design:
- Reads are plain ``spark.read.parquet(files)`` → vectorized scan,
  predicate pushdown, column pruning all intact.
- MERGE and row-level DELETE share one match pipeline: one fused
  aggregation of the source keys (``_key_stats``) → the candidate files
  whose manifest stats / partition dirs can hold a key
  (``_candidate_files``) → the write mode → either a merge-on-read delta
  (changed rows plus an equality-delete set) or copy-on-write: a
  null-safe semi join of the candidates against the keys, tagged with
  each row's ``_metadata.file_path``, finds the touched files
  (``_touched_files``); untouched files carry over by reference and
  only touched files are rewritten. At 100 TB with 0.1 % daily updates
  this rewrites ~the files containing matches, not the table (same win
  Iceberg's merge gets from manifest pruning).
- The VERSION pointer flips via ``os.replace`` (atomic on POSIX), so
  readers never see a torn snapshot; writers use optimistic concurrency
  (Iceberg's commit model): state-reading operations (merge, compact)
  pin the version they read and their commit is REJECTED with
  :class:`ConcurrentCommitError` if another writer advanced the table
  meanwhile — retry against fresh state.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import scalar_collect, scalar_count, scalar_first
from ._meta import read_json_meta, write_json_meta

__all__ = [
    "SnapshotTable",
    "BranchTable",
    "MergeClause",
    "ConcurrentCommitError",
]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this operation's read and its
    commit (optimistic concurrency, same model as Iceberg's snapshot
    CAS). Retry the operation against the fresh table state."""


# Widening chains where every representable value survives the cast.
# Integer→float/double is deliberately EXCLUDED: a long beyond 2^24 (float)
# or 2^53 (double) silently rounds — precision loss, the exact corruption
# an append must refuse. Everything else must cast explicitly — Spark's
# non-ANSI cast turns e.g. string→int failures into silent NULLs.
_INT_WIDENING = ["byte", "short", "integer", "long"]
_FLOAT_WIDENING = ["float", "double"]

# Spark's limit on explicit paths it lists on the driver (``_read_files``).
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _cast_is_safe(src, dst) -> bool:
    """True iff casting ``src`` to ``dst`` can never NULL-out, truncate,
    or round a representable value (Iceberg's type-promotion rules:
    int→long, float→double, plus rendering any type to string)."""
    if src == dst:
        return True
    s, d = src.typeName(), dst.typeName()
    for chain in (_INT_WIDENING, _FLOAT_WIDENING):
        if s in chain and d in chain:
            return chain.index(s) <= chain.index(d)
    if d == "string":
        return True  # any scalar renders losslessly
    if s == "date" and d == "timestamp":
        return True
    return False


@dataclass
class MergeClause:
    """WHEN MATCHED / NOT MATCHED actions for :meth:`SnapshotTable.merge`.

    ``update_set`` maps target column name → SQL expression string over
    aliases ``t`` (target) and ``s`` (source). ``insert_values`` likewise;
    ``None`` inserts source columns by name. Conditions are SQL boolean
    expressions over ``t``/``s`` (``None`` = always).
    """

    matched_update: dict[str, str] | None = None
    matched_update_condition: str | None = None
    matched_delete_condition: str | None = None
    insert_when_not_matched: bool = True
    insert_values: dict[str, str] | None = None
    insert_condition: str | None = None


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)

    # ------------------------------------------------------------------ paths
    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.root, "snapshots")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _version_file(self) -> str:
        return os.path.join(self.root, "VERSION")

    # ------------------------------------------------------------- snapshots
    def exists(self) -> bool:
        return os.path.exists(self._version_file())

    def current_version(self) -> int:
        with open(self._version_file()) as f:
            return int(f.read().strip())

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version:08d}.json")

    def _flip_version_monotonic(self, version: int) -> None:
        """Advance the VERSION pointer to ``version`` iff it moves FORWARD.

        Both flip sites (the winner's normal flip and the EEXIST
        adoption flip) funnel through here. The monotonic check and the
        write happen under a short-lived O_EXCL lock file so the
        check-then-act pair is atomic across writers: without it, a
        loser that adopts an orphaned v{N} manifest can retry, commit
        v{N+1}, and then have the ORIGINAL v{N} winner's late
        unconditional flip regress the pointer from N+1 back to N
        (transient stale reads until some later commit re-heals).
        The lock guards only two metadata syscalls — held for
        microseconds — so a 2 s steal window is orders of magnitude
        above any legitimate hold time (a holder that old crashed
        mid-flip and abandoned the lock). Each acquirer writes a
        writer-unique OWNERSHIP TOKEN into the lock file:

        - stealing renames the stale lock to a unique grave first, so
          when several contenders see age > 2 s exactly one rename wins
          and at most ONE lock file is ever deleted per steal (a bare
          os.remove could delete a rival stealer's FRESH lock);
        - ownership is re-verified against the token immediately before
          the pointer write, so a holder that stalled past the steal
          window (GC pause, NFS hang) and was stolen from re-enters the
          acquire loop instead of writing alongside the stealer;
        - release removes the lock only while it still holds OUR token,
          so a stolen-from holder's late cleanup cannot delete the
          stealer's lock.
        """
        lock = self._version_file() + ".lock"
        token = f"{os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.time() + 10.0
        while True:
            # ---------------------------------------------------- acquire
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # holder just released; retry acquire
                if age > 2.0:
                    # rename-then-remove: the rename is atomic, so of N
                    # contenders racing to steal the same stale lock
                    # exactly one succeeds and the losers' renames raise
                    # (the path is gone) — nobody can remove a lock that
                    # a rival stealer already re-created
                    grave = lock + f".steal-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, grave)
                        os.remove(grave)
                    except OSError:
                        pass
                    continue
                if time.time() > deadline:
                    raise ConcurrentCommitError(
                        f"VERSION lock at {lock} held past deadline"
                    )
                time.sleep(0.005)
                continue
            # ------------------------------------------------- critical
            try:
                if self.exists() and self.current_version() >= version:
                    return  # a later commit already advanced the pointer
                # The manifest may have been UNPUBLISHED while we waited
                # for the lock: fast_forward's rollback unlinks the branch
                # manifests it linked (under ITS hold of this same lock),
                # so an EEXIST adopter that validated one of them as a
                # completed commit can reach this flip after the file is
                # gone. Flipping the pointer to a vanished manifest would
                # publish a dangling version — a permanent hole in the
                # snapshot chain. Re-verify under the lock, immediately
                # before the write, and surface a conflict instead.
                if not os.path.exists(self._snapshot_path(version)):
                    raise ConcurrentCommitError(
                        f"snapshot v{version} was unpublished (concurrent "
                        "branch-publish rollback) before its pointer flip; "
                        "retry on fresh state"
                    )
                vtmp = self._version_file() + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(vtmp, "w") as f:
                    f.write(str(version))
                # ownership verify LAST, immediately before the flip: a
                # stall anywhere earlier in the critical section (GC
                # pause past the 2 s steal window) is caught here — the
                # stolen-from holder discards its staged pointer and
                # retries instead of overwriting the stealer's newer one
                if not self._holds_lock(lock, token):
                    try:
                        os.remove(vtmp)
                    except OSError:
                        pass
                    continue
                os.replace(vtmp, self._version_file())  # atomic pointer flip
                return
            finally:
                if self._holds_lock(lock, token):
                    try:
                        os.remove(lock)
                    except OSError:
                        pass

    @staticmethod
    def _holds_lock(lock: str, token: str) -> bool:
        """True iff ``lock`` still contains OUR ownership token."""
        try:
            with open(lock) as f:
                return f.read() == token
        except OSError:
            return False

    def _acquire_version_lock(self) -> tuple[str, str]:
        """Acquire the VERSION lock (same acquire/steal protocol as
        :meth:`_flip_version_monotonic`) and HOLD it for a multi-step
        critical section (fast_forward's publish). Returns (lock path,
        ownership token); the caller releases via ``_holds_lock`` +
        remove. Hold times must stay well under the 2 s steal window."""
        lock = self._version_file() + ".lock"
        token = f"{os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.time() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                return lock, token
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue
                if age > 2.0:
                    grave = lock + f".steal-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, grave)
                        os.remove(grave)
                    except OSError:
                        pass
                    continue
                if time.time() > deadline:
                    raise ConcurrentCommitError(
                        f"VERSION lock at {lock} held past deadline"
                    )
                time.sleep(0.005)

    def _read_snapshot(self, version: int) -> dict[str, Any]:
        with open(self._snapshot_path(version)) as f:
            return json.load(f)

    def _snapshots(self) -> list[dict[str, Any]]:
        if not os.path.isdir(self._snap_dir):
            return []
        out = []
        for name in sorted(os.listdir(self._snap_dir)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self._snap_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def _commit(self, files: list[str], operation: str, summary: dict[str, Any],
                schema_json: str, expected_version: int | None = None,
                delete_files: list[dict[str, Any]] | None = None,
                file_seqs: dict[str, int] | None = None,
                partition_by: list[str] | None = None) -> int:
        """Write the snapshot and flip the pointer.

        ``expected_version`` is the optimistic-concurrency guard
        (Iceberg's commit model): operations that READ table state to
        compute their output (merge, compact) pass the version they
        read; if another writer committed meanwhile, the commit is
        rejected instead of silently clobbering the interleaved snapshot
        — the caller retries against fresh state.

        Merge-on-read state (Iceberg v2 sequence-number model):
        ``delete_files`` is a list of ``{"file", "seq", "keys"}`` —
        equality-delete files whose keys kill data rows with a STRICTLY
        LOWER sequence number; ``file_seqs`` maps carried data files to
        the sequence they were first committed at. Data files absent
        from ``file_seqs`` (i.e. written by THIS commit) and delete
        entries with ``seq=None`` get this commit's version as their
        sequence. Commits that pass neither publish a delete-free
        snapshot (create/replace, compaction — which materializes
        deletes through the MOR-aware read). Delete entries whose
        sequence is at or below every data file's are dropped: they can
        kill nothing, so carrying them would only tax every read.
        """
        os.makedirs(self._snap_dir, exist_ok=True)
        current = self.current_version() if self.exists() else 0
        if expected_version is not None and current != expected_version:
            raise ConcurrentCommitError(
                f"table advanced to v{current} while this {operation} was "
                f"computed against v{expected_version}; retry on fresh state"
            )
        version = current + 1
        # Manifest-embedded per-file column stats (Iceberg manifest
        # model: lower/upper bounds ride the manifest entry, written
        # ONCE at commit time). pruned_files reads these instead of
        # re-opening every live footer per query — at manifest scale
        # the prune is a driver-side dict walk, not O(files) footer IO.
        # Stats for carried-forward files are inherited by path (data
        # files are immutable); only this commit's new files pay a
        # footer read, once, ever.
        prev_stats: dict[str, Any] = {}
        if current > 0:
            try:
                prev_stats = self._read_snapshot(current).get("file_stats") or {}
            except (OSError, ValueError):
                prev_stats = {}
        file_stats: dict[str, Any] = {}
        for rel in files:
            if rel in prev_stats:
                file_stats[rel] = prev_stats[rel]
            else:
                enc = self._encode_file_stats(rel)
                if enc is not None:
                    file_stats[rel] = enc
        seqs = {rel: int((file_seqs or {}).get(rel, version)) for rel in files}
        oldest = min(seqs.values(), default=version)
        dels = [
            {**d, "seq": version if d.get("seq") is None else int(d["seq"])}
            for d in (delete_files or [])
        ]
        dels = [d for d in dels if d["seq"] > oldest]
        snap = {
            "version": version,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "files": files,  # paths relative to root
            "summary": summary,
            "schema": schema_json,
            "file_seqs": seqs,
            "delete_files": dels,
            "partition_by": list(partition_by or []),
            "file_stats": file_stats,
        }
        # publish the manifest with an EXCLUSIVE atomic link, not a
        # clobbering rename: two writers can both pass the version check
        # above (check-then-act), and the loser must get
        # ConcurrentCommitError rather than silently overwriting the
        # winner's manifest. os.link fails with EEXIST if the winner's
        # snapshot landed first — the filesystem is the arbiter.
        tmp = self._snapshot_path(version) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp, self._snapshot_path(version))
        except FileExistsError:
            # Two ways a v{version} manifest can already exist:
            #   (a) a concurrent writer just won the race — its pointer
            #       flip is imminent (or done);
            #   (b) an EARLIER commit crashed between the manifest link
            #       and the pointer flip, orphaning a completed manifest
            #       while VERSION still reads version-1. Without repair,
            #       every later commit recomputes the same version, hits
            #       EEXIST again, and the table is unwritable forever.
            # Both cases have the same safe repair: the existing manifest
            # was linked from a fully-written tmp file, so it IS a
            # completed commit — adopt it by advancing the pointer (a
            # no-op if the concurrent winner already flipped it; exactly
            # the flip the crashed writer owed otherwise), then surface
            # ConcurrentCommitError so the caller recomputes on the
            # now-fresh state.
            existing: Any = None
            try:
                with open(self._snapshot_path(version)) as f:
                    existing = json.load(f)
            except (OSError, ValueError):
                existing = None
            complete = (
                isinstance(existing, dict)
                and existing.get("version") == version
                and "files" in existing
            )
            if not complete:
                # unreadable/corrupt/truncated manifest: quarantine it so
                # the next retry can claim the version number (a real
                # winner's manifest is always complete — it was linked
                # from a fully-written tmp file)
                os.replace(
                    self._snapshot_path(version),
                    self._snapshot_path(version) + ".orphan",
                )
            else:
                self._flip_version_monotonic(version)
            raise ConcurrentCommitError(
                f"another writer committed v{version} concurrently; "
                f"retry this {operation} on fresh state"
            ) from None
        finally:
            os.remove(tmp)
        # Monotonic, not unconditional: if a loser adopted this manifest
        # and already committed version+1, a plain flip here would
        # REGRESS the pointer (leapfrog race) — see _flip_version_monotonic.
        self._flip_version_monotonic(version)
        return version

    # ----------------------------------------------------- manifest stats
    def _encode_file_stats(self, rel: str) -> dict[str, list[Any]] | None:
        """JSON-safe ``{column: [tag, min, max]}`` from one file's
        parquet footer — min of row-group mins / max of maxes, a column
        dropped entirely if ANY row group lacks min/max (exactly the
        conservative semantics the footer path applies per query).
        Non-primitive and unstat-able columns are simply absent (absent
        ⇒ keep — never prunes). Returns None if the footer is
        unreadable; the file then takes the per-query footer fallback."""
        import datetime as _dt
        import decimal as _dec

        import pyarrow.parquet as pq

        try:
            meta = pq.read_metadata(os.path.join(self.root, rel))
        except OSError:
            return None
        out: dict[str, Any] = {}
        # manifest-entry row/byte counts (Iceberg: record_count /
        # file_size_in_bytes) — files_metadata reads these instead of
        # footers; '#'-keys can't collide with parquet column paths here
        out["#rows"] = int(meta.num_rows)
        try:
            out["#bytes"] = int(os.path.getsize(os.path.join(self.root, rel)))
        except OSError:
            pass
        out["#row_groups"] = int(meta.num_row_groups)
        ncols = meta.num_columns
        for i in range(ncols):
            name = meta.schema.column(i).name
            mn = mx = None
            ok = True
            for g in range(meta.num_row_groups):
                st = meta.row_group(g).column(i).statistics
                try:
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    smn, smx = st.min, st.max
                except Exception:  # pyarrow: "Cannot extract statistics
                    ok = False  # for type" (e.g. some decimal encodings)
                    break
                mn = smn if mn is None else min(mn, smn)
                mx = smx if mx is None else max(mx, smx)
            if not ok or mn is None:
                continue
            if isinstance(mn, bool):
                continue  # no supported prune op targets booleans
            if isinstance(mn, int):
                out[name] = ["i", mn, mx]
            elif isinstance(mn, float):
                out[name] = ["f", mn, mx]
            elif isinstance(mn, str):
                out[name] = ["s", mn, mx]
            elif isinstance(mn, _dt.datetime):
                def _us(v: _dt.datetime) -> int:
                    if v.tzinfo is not None:
                        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    d = v - _dt.datetime(1970, 1, 1)
                    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

                out[name] = ["t", _us(mn), _us(mx)]
            elif isinstance(mn, _dt.date):
                out[name] = ["d", mn.isoformat(), mx.isoformat()]
            elif isinstance(mn, _dec.Decimal):
                out[name] = ["c", str(mn), str(mx)]
            # bytes / other exotic reprs: skip (absent ⇒ keep)
        return out

    @staticmethod
    def _decode_stat(entry: list[Any]) -> tuple[Any, Any]:
        """Inverse of _encode_file_stats for one column: the same Python
        values the per-query footer path would compare against."""
        import datetime as _dt
        import decimal as _dec

        tag, mn, mx = entry

        def one(v: Any) -> Any:
            if tag == "t":
                return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
            if tag == "d":
                return _dt.date.fromisoformat(v)
            if tag == "c":
                return _dec.Decimal(v)
            return v

        return one(mn), one(mx)

    # ------------------------------------------------------------ data files
    def _write_files(
        self,
        df: DataFrame,
        target_partitions: int | None = None,
        partition_by: list[str] | None = None,
    ) -> list[str]:
        commit_dir = f"commit-{uuid.uuid4().hex[:12]}"
        out_path = os.path.join(self._data_dir, commit_dir)
        if partition_by:
            # entries are identity columns or hidden-partition transform
            # specs ("days(ts)", "bucket(16, id)"): transforms derive a
            # self-describing dir column that partitionBy strips from the
            # data files — it lives only in the directory layout
            from .transforms import parse_spec_list

            fields = parse_spec_list(partition_by)
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            dir_cols: list[str] = []
            for fld in fields:
                if fld.is_identity:
                    dir_cols.append(fld.source)
                    continue
                if fld.source not in types:
                    raise ValueError(
                        f"partition transform {fld.spec!r} source column "
                        f"{fld.source!r} not in frame"
                    )
                df = df.withColumn(fld.dir_name, fld.expr(types[fld.source]))
                dir_cols.append(fld.dir_name)
            # co-locate rows of a partition before the partitioned write so
            # each task emits files for few partition values, not all
            writer = (
                df.repartition(target_partitions, *dir_cols)
                if target_partitions is not None
                else df.repartition(*dir_cols)
            ).write.partitionBy(*dir_cols)
        else:
            w = df if target_partitions is None else df.repartition(target_partitions)
            writer = w.write
        # Spark still defaults to INT96 timestamps, which carry NO parquet
        # min/max statistics — every timestamp predicate would lose footer
        # pruning. Iceberg mandates TIMESTAMP_MICROS (spec §Primitive
        # Types); write the table's files the same way. Set-and-restore:
        # the session conf must not leak to the caller's own writes.
        conf_key = "spark.sql.parquet.outputTimestampType"
        prev_conf = self.spark.conf.get(conf_key)
        self.spark.conf.set(conf_key, "TIMESTAMP_MICROS")
        try:
            writer.mode("overwrite").parquet(out_path)
        finally:
            self.spark.conf.set(conf_key, prev_conf)
        rels = []
        for dirpath, _, names in os.walk(out_path):
            for name in names:
                if name.endswith(".parquet"):
                    rels.append(
                        os.path.relpath(os.path.join(dirpath, name), self.root)
                    )
        return sorted(rels)

    def _abs_files(self, snap: dict[str, Any]) -> list[str]:
        return [os.path.join(self.root, rel) for rel in snap["files"]]

    # ----------------------------------------------------------------- writes
    def create_or_replace(
        self,
        df: DataFrame,
        partitions: int | None = None,
        partition_by: list[str] | None = None,
        summary_extra: dict[str, Any] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """CTAS / bulk-load (reference ``writeTo(...).createOrReplace()``,
        pyspark_functions.py:30). ``partition_by`` declares identity
        partitioning (the reference's tables partition on a date key,
        ``utils/metadata/store_sales.json:105-107``): data lands under
        ``k=v`` directories, the partition values ride in the manifest,
        and partition predicates prune files without touching footers."""
        if partition_by:
            from .transforms import parse_spec_list

            fields = parse_spec_list(partition_by)  # validates the grammar
            missing = [f.source for f in fields if f.source not in df.columns]
            if missing:
                raise ValueError(f"partition_by columns {missing} not in frame")
            clash = [
                f.dir_name
                for f in fields
                if not f.is_identity and f.dir_name in df.columns
            ]
            if clash:
                raise ValueError(
                    f"transform dir columns {clash} collide with data columns"
                )
            partition_by = [f.spec for f in fields]  # canonical spelling
        files = self._write_files(df, partitions, partition_by=partition_by)
        return self._commit(
            files, "create_or_replace",
            {"added_files": len(files), **(summary_extra or {})},
            df.schema.json(),
            partition_by=partition_by,
            # REPLACE-from-own-content ops (rebucket, retrain) pass the
            # version their input scan pinned so a concurrent append
            # cannot be silently dropped by the rewrite
            expected_version=expected_version,
        )

    def append(
        self, df: DataFrame, summary_extra: dict[str, Any] | None = None
    ) -> int:
        """Append snapshot (reference ``writeTo(t).append()``, notebook cell 30).

        The frame is aligned to the table schema first (Iceberg writer
        semantics): columns the table has but ``df`` lacks are filled
        with NULL (they were added by ``add_column`` after ``df``'s
        producer was written); columns ``df`` has but the table lacks
        are an error — evolve the schema explicitly, never silently."""
        if not self.exists():
            # expected_version=0 pins this as a CREATE: if a concurrent
            # first writer's create lands between the exists() check and
            # the commit, this surfaces as ConcurrentCommitError (caller
            # retries, landing as a real append) instead of REPLACING —
            # and silently dropping — the rival's rows
            return self.create_or_replace(
                df, summary_extra=summary_extra, expected_version=0
            )
        base = self.current_version()
        prev = self._read_snapshot(base)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(prev["schema"]))
        extra = [c for c in df.columns if c not in schema.fieldNames()]
        if extra:
            raise ValueError(
                f"append frame has columns {extra} not in the table schema; "
                "call add_column first (schema evolution is explicit)"
            )
        df_types = {f.name: f.dataType for f in df.schema.fields}
        for f in schema.fields:
            if f.name in df_types and not _cast_is_safe(df_types[f.name], f.dataType):
                raise ValueError(
                    f"append column {f.name!r} has type "
                    f"{df_types[f.name].simpleString()} but the table expects "
                    f"{f.dataType.simpleString()}; an unchecked cast would write "
                    "NULLs or lose precision silently — cast explicitly"
                )
        aligned = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        files = self._write_files(
            aligned, partition_by=prev.get("partition_by") or None
        )
        # expected_version guards the read-modify-write on prev["files"]:
        # without it a concurrent append's files would be silently dropped
        # from the union this commit publishes.
        return self._commit(
            prev["files"] + files,
            "append",
            {"added_files": len(files), **(summary_extra or {})},
            prev["schema"],
            expected_version=base,
            delete_files=prev.get("delete_files"),
            file_seqs=prev.get("file_seqs"),
            partition_by=prev.get("partition_by"),
        )

    # ------------------------------------------------------- schema evolution
    def add_column(self, name: str, dtype: str) -> int:
        """``ALTER TABLE … ADD COLUMN`` (Iceberg schema evolution).

        Metadata-only commit: the data files are untouched; rows written
        before the evolution read as NULL in the new column. ``dtype``
        is a Spark DDL type string (``"double"``, ``"string"`` …).
        Renames are intentionally NOT offered: this layer maps parquet
        columns by NAME, and name-mapped renames silently orphan old
        data (Iceberg solves it with field IDs; Delta with column
        mapping) — an explicit add + backfill + drop is the honest
        equivalent here."""
        base = self.current_version()
        snap = self._read_snapshot(base)
        from pyspark.sql.types import StructType, _parse_datatype_string

        schema = StructType.fromJson(json.loads(snap["schema"]))
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        from .transforms import parse_spec_list as _psl

        live_dirs = [
            f.dir_name for f in _psl(snap.get("partition_by")) if not f.is_identity
        ]
        if name in live_dirs:
            raise ValueError(
                f"column {name!r} collides with a hidden-partition dir "
                "column of the current spec; pick another name or evolve "
                "the partition spec first"
            )
        # Resurrection guard: reads map parquet columns by NAME, so if any
        # file in the CURRENT snapshot was written while a since-dropped
        # column of the same name existed, re-adding the name would read
        # the stale bytes instead of NULL (Iceberg avoids this with field
        # ids). Only flag files still live in this snapshot — rewritten
        # tables may reuse the name freely.
        current_files = set(snap["files"])
        for old in self._snapshots():
            if old["version"] > base:
                continue
            old_schema = StructType.fromJson(json.loads(old["schema"]))
            if name in old_schema.fieldNames() and current_files & set(old["files"]):
                raise ValueError(
                    f"column {name!r} existed at v{old['version']} and files "
                    "from that era are still in the current snapshot; re-adding "
                    "the name would resurrect stale values (name-mapped reads "
                    "have no field ids) — rewrite the table (compact) first"
                )
        # The history scan above goes blind once expire_snapshots has
        # dropped the manifests that declared the column — the BYTES are
        # the ground truth, so also check the surviving files' footers
        # (manifest-scale driver cost, same as files_metadata).
        import pyarrow.parquet as pq

        for rel in snap["files"]:
            fschema = pq.read_schema(os.path.join(self.root, rel))
            if name in fschema.names:
                raise ValueError(
                    f"column {name!r} is physically present in live data "
                    f"file {rel} (written under a since-expired schema); "
                    "re-adding the name would resurrect stale values — "
                    "rewrite the table (compact) first"
                )
        schema = schema.add(name, _parse_datatype_string(dtype), True)
        return self._commit(
            snap["files"],
            "add_column",
            {"column": name, "type": dtype},
            schema.json(),
            expected_version=base,
            delete_files=snap.get("delete_files"),
            file_seqs=snap.get("file_seqs"),
            partition_by=snap.get("partition_by"),
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE … DROP COLUMN``: metadata-only; the bytes remain
        in existing files but every read projects the column away, and
        time travel to pre-drop snapshots still sees it."""
        base = self.current_version()
        snap = self._read_snapshot(base)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(snap["schema"]))
        if name not in schema.fieldNames():
            raise ValueError(f"column {name!r} does not exist")
        from .transforms import parse_spec_list as _psl

        if name in [f.source for f in _psl(snap.get("partition_by"))]:
            raise ValueError(
                f"column {name!r} is a partition (or transform-source) "
                "column; repartition the table (create_or_replace) before "
                "dropping it"
            )
        if any(name in d["keys"] for d in snap.get("delete_files") or []):
            raise ValueError(
                f"column {name!r} keys live equality-delete files; "
                "compact() to materialize the deletes before dropping it"
            )
        kept = StructType([f for f in schema.fields if f.name != name])
        return self._commit(
            snap["files"],
            "drop_column",
            {"column": name},
            kept.json(),
            expected_version=base,
            delete_files=snap.get("delete_files"),
            file_seqs=snap.get("file_seqs"),
            partition_by=snap.get("partition_by"),
        )

    def set_partition_spec(self, partition_by: list[str] | None) -> int:
        """Partition-spec EVOLUTION (Iceberg ``REPLACE PARTITION
        FIELD`` / ``write.spark.partitioned-by`` change): metadata-only
        commit. Existing files keep their old directory layout and stay
        fully readable AND partition-prunable (per-file pruning matches
        whatever ``k=v`` segments a file actually has, not the current
        spec); FUTURE writes (append / merge deltas / compact) land
        under the new spec. ``compact()`` after the change migrates the
        whole table to the new layout — the explicit rewrite Iceberg
        also requires to re-layout history. ``None``/empty removes
        partitioning for future writes.

        Entries may be identity columns or hidden-partition transform
        specs (``"days(ts)"``, ``"bucket(16, id)"``, ``"truncate(4,
        c)"`` — Iceberg spec §Partition Transforms): queries keep
        filtering on the SOURCE column and ``read_where`` prunes
        through the transform."""
        base = self.current_version()
        snap = self._read_snapshot(base)
        from pyspark.sql.types import StructType

        from .transforms import parse_spec_list

        schema = StructType.fromJson(json.loads(snap["schema"]))
        fields = parse_spec_list(list(partition_by or []))
        cols = [f.spec for f in fields]
        missing = [f.source for f in fields if f.source not in schema.fieldNames()]
        if missing:
            raise ValueError(f"partition_by columns {missing} not in schema")
        clash = [
            f.dir_name
            for f in fields
            if not f.is_identity and f.dir_name in schema.fieldNames()
        ]
        if clash:
            raise ValueError(
                f"transform dir columns {clash} collide with schema columns"
            )
        return self._commit(
            snap["files"],
            "set_partition_spec",
            {"partition_by": cols},
            snap["schema"],
            expected_version=base,
            delete_files=snap.get("delete_files"),
            file_seqs=snap.get("file_seqs"),
            partition_by=cols,
        )

    # ------------------------------------------------------------------ reads
    def read(self, version: int | None = None, as_of_timestamp_ms: int | None = None) -> DataFrame:
        """Scan the table; ``version``/``as_of_timestamp_ms`` time-travel
        (reference ``FOR TIMESTAMP AS OF``, notebook cell 43)."""
        if version is None and as_of_timestamp_ms is not None:
            candidates = [
                s["version"] for s in self._snapshots()
                if s["timestamp_ms"] <= as_of_timestamp_ms
            ]
            if not candidates:
                raise ValueError(f"no snapshot at or before {as_of_timestamp_ms}")
            version = max(candidates)
        if version is None:
            version = self.current_version()
        snap = self._read_snapshot(version)
        return self._read_snapshot_df(snap)

    def _read_snapshot_df(
        self,
        snap: dict[str, Any],
        only_files: list[str] | None = None,
        with_file_col: str | None = None,
    ) -> DataFrame:
        """Merge-on-read scan of a snapshot (optionally restricted to a
        file subset): data rows ride with their file's sequence number
        and equality-delete keys kill rows of STRICTLY LOWER sequence —
        rows written by the same commit as a delete survive it (they are
        the post-image). Delete-free snapshots take the plain multi-file
        scan (zero overhead — the dominant path).

        ``with_file_col`` attaches each row's source file path under the
        given name (scan-side ``_metadata.file_path`` inside
        ``_read_files`` — neither ``input_file_name()`` nor the metadata
        column can be resolved above the unions these reads build).

        Sequences ride the scan, not the plan: each row's sequence is
        its file's commit directory mapped through the manifest, so the
        data side stays ONE scan however many commits it spans, and
        each delete-key set costs one scan and one broadcast."""
        from pyspark.sql.types import StructField, StructType

        rels = snap["files"] if only_files is None else only_files
        dels = snap.get("delete_files") or []
        if not dels or not rels:
            return self._read_files(rels, snap["schema"], file_col=with_file_col)
        seqs = snap.get("file_seqs") or {}
        path_col = with_file_col or "__path"
        data = self._read_files(rels, snap["schema"], file_col=path_col)
        data = data.withColumn(
            "__seq",
            self._seq_col(path_col, [(rel, int(seqs.get(rel, 0))) for rel in rels]),
        )
        # one anti join per distinct delete-key set (merges on different
        # keys produce differently-shaped delete files)
        types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        }
        by_keys: dict[tuple[str, ...], list[dict[str, Any]]] = {}
        for d in dels:
            by_keys.setdefault(tuple(d["keys"]), []).append(d)
        for keys, group in by_keys.items():
            # explicit key schema: no footer-inference job per delete file
            key_schema = StructType([StructField(k, types[k]) for k in keys])
            ddf = (
                self.spark.read.schema(key_schema)
                .parquet(*[os.path.join(self.root, d["file"]) for d in group])
                .select(
                    *[F.col(k).alias(f"__d_{k}") for k in keys],
                    self._seq_col(
                        "_metadata.file_path",
                        [(d["file"], int(d["seq"])) for d in group],
                    ).alias("__dseq"),
                )
            )
            cond = F.col("__seq") < F.col("__dseq")
            for k in keys:
                cond = cond & F.col(k).eqNullSafe(F.col(f"__d_{k}"))
            data = data.join(ddf, cond, "left_anti")
        data = data.drop("__seq")
        return data if with_file_col else data.drop(path_col)

    @staticmethod
    def _seq_col(path_col: str, rel_seqs: list[tuple[str, int]]) -> Column:
        """Sequence number of each row's file, looked up by the file's
        commit directory (``data/commit-<id>/…``). Every file of a
        commit directory was published by one commit, so within a
        snapshot the directory determines the sequence — and its hex id
        needs none of the URL escaping ``_metadata.file_path`` applies
        to partition values."""
        by_dir: dict[str, int] = {}
        for rel, seq in rel_seqs:
            d = rel.split(os.sep)[1].removeprefix("commit-")
            if by_dir.setdefault(d, seq) != seq:
                raise ValueError(
                    f"commit directory {d} carries two sequence numbers "
                    f"({by_dir[d]} and {seq}) in one snapshot"
                )
        dir_id = F.substring_index(
            F.substring_index(F.col(path_col), "/data/commit-", -1), "/", 1
        )
        pairs = [x for d, s in sorted(by_dir.items()) for x in (F.lit(d), F.lit(s))]
        return F.element_at(F.create_map(*pairs), dir_id)

    @staticmethod
    def _is_partitioned_rel(rel: str) -> bool:
        """A file written by a ``partitionBy`` commit sits under k=v dirs."""
        return any("=" in seg for seg in rel.split(os.sep)[:-1])

    def _read_files(
        self, rels: list[str], schema_json: str, file_col: str | None = None
    ) -> DataFrame:
        """Scan data files under the SNAPSHOT's schema (Iceberg-style
        schema projection): files written before an ``add_column`` lack
        the column and read as NULL; columns dropped from the schema are
        projected away even though the bytes remain in old files.

        Directory-partitioned commits (``data/commit-x/k=v/…``) read with
        ``basePath`` per commit dir so Spark reconstructs the partition
        columns under the declared schema; each partitioned commit is its
        own scan (basePath cannot span commit dirs), plain files stay one
        multi-file scan. Unpartitioned commits of a partitioned table
        (merge deltas) carry the partition columns IN the files, so both
        layouts read under the same schema.

        ``file_col`` attaches each row's source path via the per-scan
        ``_metadata.file_path`` — attached HERE, scan-side, because the
        metadata column cannot be resolved above a union."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        cols = schema.fieldNames()
        extra = (
            [F.col("_metadata.file_path").alias(file_col)] if file_col else []
        )
        if not rels:
            df = self.spark.createDataFrame([], schema)
            if file_col:
                df = df.withColumn(file_col, F.lit(None).cast("string"))
            return df
        plain: list[str] = []
        by_commit: dict[str, list[str]] = {}
        for rel in rels:
            if self._is_partitioned_rel(rel):
                commit = os.sep.join(rel.split(os.sep)[:2])  # data/commit-x
                by_commit.setdefault(commit, []).append(rel)
            else:
                plain.append(rel)
        groups: list[tuple[str | None, list[str]]] = [(None, plain)] if plain else []
        groups += [
            (os.path.join(self.root, commit), group)
            for commit, group in sorted(by_commit.items())
        ]
        # Spark lists more than `threshold` explicit paths with a parallel
        # listing JOB, although the manifest already names every file: scan
        # in chunks it lists on the driver, so building a read runs no job.
        limit = max(1, int(self.spark.conf.get(_LISTING_THRESHOLD)))
        parts: list[DataFrame] = []
        for base, group in groups:
            reader = self.spark.read.schema(schema)
            if base is not None:
                reader = reader.option("basePath", base)
            for i in range(0, len(group), limit):
                files = [os.path.join(self.root, rel) for rel in group[i : i + limit]]
                # partition cols surface last; the select restores order
                parts.append(reader.parquet(*files).select(*cols, *extra))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_where(
        self,
        filters: list[tuple[str, str, Any]],
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned scan (Iceberg's manifest min/max file pruning —
        the read-side half of the feature Z-order compaction writes for).

        ``filters`` is a conjunction of ``(column, op, value)`` with op in
        ``= < <= > >= between in`` (``between`` takes a ``(lo, hi)``
        value; ``in`` a list of values). Files whose parquet-footer
        [min, max] range cannot satisfy the conjunction are dropped from
        the scan WITHOUT being opened by executors; the surviving files
        are read and the same predicate is applied row-level, so the
        result is EXACTLY ``read(version).filter(...)`` — pruning is a
        pure optimization.

        Stats come from the driver-side footer reads ``files_metadata``
        already does (manifest-scale cost, like Iceberg's own manifest
        scan). Files with missing/unreadable stats for a filtered column
        are conservatively kept. After ``compact(strategy='zorder')`` on
        the filter columns, tight predicates prune most files; on
        unclustered layouts pruning degrades gracefully to a full list.
        """
        # resolve the version ONCE and thread it through: letting
        # pruned_files re-resolve current_version() independently would
        # let a concurrent commit land between the two reads, pairing
        # v_n's manifest with v_{n+1}'s file list — a phantom,
        # non-snapshot-isolated read
        if version is None:
            version = self.current_version()
        snap = self._read_snapshot(version)
        kept = self.pruned_files(filters, version=version)
        # route through the MOR-aware scan: stats pruning only shrinks the
        # data-file list; live equality-deletes must still apply
        df = self._read_snapshot_df(snap, only_files=kept)
        cond = F.lit(True)
        for col, op, val in filters:
            c = F.col(col)
            if op == "=":
                cond = cond & (c == val)
            elif op == "<":
                cond = cond & (c < val)
            elif op == "<=":
                cond = cond & (c <= val)
            elif op == ">":
                cond = cond & (c > val)
            elif op == ">=":
                cond = cond & (c >= val)
            elif op == "in":
                cond = cond & c.isin(list(val))
            else:
                cond = cond & c.between(val[0], val[1])
        return df.filter(cond)

    def pruned_files(
        self,
        filters: list[tuple[str, str, Any]],
        version: int | None = None,
    ) -> list[str]:
        """The root-relative data files of a snapshot that MAY satisfy
        ``filters`` (read_where's pruning half, exposed as the IO
        receipt): partition-dir values prune without any footer read,
        parquet footer min/max stats prune the rest; missing stats keep
        the file conservatively. ``len(pruned_files(...))`` vs
        ``len(files)`` is the scan-bound a pruned read pays."""
        import pyarrow.parquet as pq

        ops = {"=", "<", "<=", ">", ">=", "between", "in"}
        for _, op, _v in filters:
            if op not in ops:
                raise ValueError(f"unsupported op {op!r}; use one of {sorted(ops)}")

        snap = self._read_snapshot(
            self.current_version() if version is None else version
        )

        def _overlaps(mn, mx, op, val) -> bool:
            if op == "=":
                return mn <= val <= mx
            if op == "<":
                return mn < val
            if op == "<=":
                return mn <= val
            if op == ">":
                return mx > val
            if op == ">=":
                return mx >= val
            if op == "in":
                return any(mn <= v <= mx for v in val)
            lo, hi = val
            return not (mx < lo or mn > hi)

        # ALL schema columns, not just the current spec's: after
        # partition-spec evolution, files written under an OLD spec keep
        # their k=v dirs and must keep pruning on those columns — the
        # per-file match below keys on what segments a file actually
        # has, so a column that was never dir-encoded simply never hits
        from pyspark.sql.types import StructType

        sch = StructType.fromJson(json.loads(snap["schema"]))
        part_types = {f.name: f.dataType.simpleString() for f in sch.fields}

        def _partition_value(rel: str, col: str):
            """(found, typed_value) for a dir-partitioned file's column."""
            from urllib.parse import unquote

            for seg in rel.split(os.sep)[:-1]:
                if seg.startswith(f"{col}="):
                    # Spark percent-escapes special chars in partition dirs
                    # (' ' → %20, '=' → %3D); compare the UNESCAPED value or
                    # string partitions with those chars would wrongly prune
                    raw = unquote(seg[len(col) + 1:])
                    if raw == "__HIVE_DEFAULT_PARTITION__":
                        return True, None
                    t = part_types.get(col, "string")
                    try:
                        if t in ("tinyint", "smallint", "int", "bigint"):
                            return True, int(raw)
                        if t.startswith("decimal"):
                            # NOT float(raw): a decimal beyond double
                            # precision would round-trip inexactly and an
                            # '=' filter could wrongly PRUNE a file that
                            # holds matching rows. Decimal keeps the
                            # comparison exact (and compares correctly
                            # against int/float/Decimal filter values).
                            import decimal

                            return True, decimal.Decimal(raw)
                        if t in ("float", "double"):
                            return True, float(raw)
                    except (ValueError, ArithmeticError):
                        # lossy/failed parse → report not-found so the
                        # file falls through to the conservative
                        # footer-stats path instead of being pruned
                        return False, None
                    return True, raw  # string-compare (dates sort lexically)
            return False, None

        from .transforms import dir_field_for

        def _transform_disjoint(rel: str, col: str, op: str, val: Any) -> bool:
            """True iff a hidden-partition dir segment PROVES the file
            holds no ``col op val`` rows. Self-describing names
            (``ts_day=…``, ``id_bucket16=…``) carry the transform and
            its parameter, so files from any spec era prune by their
            own layout. A segment whose name is a REAL schema column is
            identity-partitioned data, never a transform. Uncertain →
            False (file falls through to footer-stats pruning — the
            transforms compose with min/max on the raw column)."""
            from urllib.parse import unquote

            src_t = part_types.get(col, "string")
            for seg in rel.split(os.sep)[:-1]:
                if "=" not in seg:
                    continue
                name, _, raw = seg.partition("=")
                if name in part_types:
                    continue
                fld = dir_field_for(col, name)
                if fld is None:
                    continue
                raw = unquote(raw)
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    return True  # NULL source never satisfies these ops
                try:
                    fv = fld.parse_dir_value(raw, src_t)
                except ValueError:
                    continue
                if not fld.file_may_match(fv, op, val, src_t):
                    return True
            return False

        fstats: dict[str, Any] = snap.get("file_stats") or {}
        kept: list[str] = []
        for rel in snap["files"]:
            keep = True
            meta = names = None  # footer loaded lazily — pruned files skip it
            for col, op, val in filters:
                # manifest-style partition pruning: a dir-partitioned file
                # holds exactly one value of each partition column — no
                # footer read needed, and a NULL partition never matches.
                # Matched against the FILE's own layout (any spec era),
                # so old-spec files stay prunable after spec evolution.
                if self._is_partitioned_rel(rel):
                    found, pv = _partition_value(rel, col)
                    if found:
                        if pv is None:
                            keep = False
                            break
                        try:
                            if not _overlaps(pv, pv, op, val):
                                keep = False
                                break
                        except TypeError:
                            pass  # incomparable → fall through to keep
                        continue
                    # hidden-partition transforms: a self-describing dir
                    # (ts_day=…) may prove disjointness; otherwise the
                    # footer stats on the raw column still apply below
                    if _transform_disjoint(rel, col, op, val):
                        keep = False
                        break
                entry = fstats.get(rel)
                if entry is not None:
                    # manifest-embedded stats: no footer IO for this file
                    se = entry.get(col)
                    if not isinstance(se, list):
                        continue  # column unstat-able / absent → keep
                    mn, mx = self._decode_stat(se)
                else:
                    # pre-upgrade snapshot: per-query footer fallback
                    if meta is None:
                        meta = pq.read_metadata(os.path.join(self.root, rel))
                        names = {
                            meta.schema.column(i).name: i
                            for i in range(meta.num_columns)
                        }
                    idx = names.get(col)
                    if idx is None:
                        continue  # pre-evolution file: column reads NULL →
                        # no match (kept conservatively, simple and safe)
                    mn = mx = None
                    for g in range(meta.num_row_groups):
                        st = meta.row_group(g).column(idx).statistics
                        try:
                            if st is None or not st.has_min_max:
                                mn = mx = None
                                break
                            # TIMESTAMP_MICROS stats surface tz-aware
                            # (UTC) from pyarrow; the engine's literals
                            # are naive-UTC — strip the tz or the
                            # comparison TypeErrors and the file is
                            # kept unpruned
                            smn, smx = st.min, st.max
                        except Exception:  # unextractable stats → keep
                            mn = mx = None
                            break
                        import datetime as _dtmod

                        if (
                            isinstance(smn, _dtmod.datetime)
                            and smn.tzinfo is not None
                        ):
                            smn = smn.astimezone(_dtmod.timezone.utc).replace(
                                tzinfo=None
                            )
                            smx = smx.astimezone(_dtmod.timezone.utc).replace(
                                tzinfo=None
                            )
                        mn = smn if mn is None else min(mn, smn)
                        mx = smx if mx is None else max(mx, smx)
                    if mn is None:
                        continue  # no stats → keep
                try:
                    drop = not _overlaps(mn, mx, op, val)
                except TypeError:
                    drop = False  # incomparable stat repr (exotic type) → keep
                if drop:
                    keep = False
                    break
            if keep:
                kept.append(rel)
        return kept

    def read_incremental(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental append scan (Iceberg's changelog/incremental read):
        the rows ADDED by snapshots in ``(from_version, to_version]``.

        Only append snapshots contribute rows; content-neutral snapshots
        (compaction rewrites, schema evolution) are skipped; ranges
        containing an overwrite-class snapshot (``create_or_replace``,
        ``merge``) raise — a row-level diff of a rewrite is not
        derivable from the file diff (Iceberg's incremental append scan
        has the same restriction). The added files must not have been
        removed by ``expire_snapshots``. This is the table-side feed for
        downstream CDC: consumers checkpoint the last version they
        processed and read forward from it."""
        if to_version is None:
            to_version = self.current_version()
        if from_version > to_version:
            raise ValueError(f"empty range ({from_version}, {to_version}]")
        prev = set(self._read_snapshot(from_version)["files"]) if from_version else set()
        added: list[str] = []
        schema_json = self._read_snapshot(to_version)["schema"]
        for v in range(from_version + 1, to_version + 1):
            snap = self._read_snapshot(v)
            op = snap["operation"]
            if op == "append":
                added.extend(f for f in snap["files"] if f not in prev)
            elif op in (
                "rewrite_data_files",
                "add_column",
                "drop_column",
                "set_partition_spec",
            ):
                pass  # content-neutral: no new rows
            else:
                raise ValueError(
                    f"incremental scan crossed a {op!r} snapshot (v{v}); "
                    "append-only ranges are required"
                )
            prev = set(snap["files"])
        return self._read_files(added, schema_json)

    def history(self) -> DataFrame:
        """Snapshot history (reference ``SELECT * FROM t.$history``,
        notebook cell 41)."""
        rows = [
            (
                s["version"],
                s["timestamp_ms"],
                s["operation"],
                len(s["files"]),
                json.dumps(s["summary"]),
            )
            for s in self._snapshots()
        ]
        return self.spark.createDataFrame(
            rows, "version INT, timestamp_ms LONG, operation STRING, n_files INT, summary STRING"
        )

    def count_rows(self, version: int | None = None) -> int:
        """Exact row count from manifest-embedded file stats — Iceberg's
        count(*)-from-manifests shape: a driver-side dict sum, zero Spark
        jobs, zero data IO. Valid only when the snapshot is delete-free
        (live merge-on-read equality-deletes make raw per-file counts
        overcount) and every live file carries a ``#rows`` stat (a file
        whose footer was unreadable at commit time has none); both
        guards fall back to the full scan count, so the returned number
        always equals ``read(version).count()``."""
        v = self.current_version() if version is None else int(version)
        snap = self._read_snapshot(v)
        if not snap.get("delete_files"):
            stats = snap.get("file_stats") or {}
            ns = [
                (stats.get(rel) or {}).get("#rows") for rel in snap["files"]
            ]
            if all(n is not None for n in ns):
                return int(sum(ns))
        return scalar_count(self.read(version=v))

    def files_metadata(self, version: int | None = None) -> DataFrame:
        """Per-data-file metrics of a snapshot (reference/Iceberg
        ``SELECT * FROM t.$files``): relative path, parquet-footer row
        count and on-disk size, plus the snapshot that first published
        the file — the inputs file-pruning and compaction planning read.

        Footer reads happen on the driver, bounded by the snapshot's
        FILE count (manifest scale, exactly like Iceberg's own manifest
        scans), never by data volume.
        """
        import pyarrow.parquet as pq

        snap = self._read_snapshot(
            self.current_version() if version is None else version
        )
        first_seen: dict[str, int] = {}
        for s in self._snapshots():
            for rel in s["files"]:
                first_seen.setdefault(rel, s["version"])
        fstats = snap.get("file_stats") or {}
        rows = []
        for rel in snap["files"]:
            entry = fstats.get(rel)
            if entry and "#rows" in entry and "#bytes" in entry:
                # manifest-embedded counts: zero footer IO (Iceberg's
                # record_count / file_size_in_bytes manifest fields)
                nrows, nbytes = int(entry["#rows"]), int(entry["#bytes"])
                ngroups = int(entry.get("#row_groups", 1))
            else:
                path = os.path.join(self.root, rel)
                meta = pq.read_metadata(path)
                nrows, nbytes = int(meta.num_rows), int(os.path.getsize(path))
                ngroups = int(meta.num_row_groups)
            rows.append(
                (rel, nrows, nbytes, ngroups, first_seen.get(rel, snap["version"]))
            )
        return self.spark.createDataFrame(
            rows,
            "file STRING, record_count LONG, file_size_bytes LONG,"
            " n_row_groups INT, added_in_version INT",
        )

    def partitions_metadata(self, version: int | None = None) -> DataFrame:
        """Per-partition summary of a snapshot (Iceberg ``SELECT * FROM
        t.$partitions``): the partition path (``k=v`` segments joined
        with ``/``, ``''`` for unpartitioned files), file count, record
        count, and byte size. Served from the manifest's embedded file
        stats — zero footer IO on stats-carrying tables; pre-upgrade
        files take one footer read each (same cost as files_metadata).
        Files written under different spec eras aggregate under their
        OWN layout, exactly like Iceberg's partitions table after spec
        evolution. Counts are DATA-file record counts (Iceberg
        semantics): rows masked by live equality-deletes still count
        here until compact() materializes them."""
        import pyarrow.parquet as pq

        snap = self._read_snapshot(
            self.current_version() if version is None else version
        )
        fstats = snap.get("file_stats") or {}
        agg: dict[str, list[int]] = {}
        for rel in snap["files"]:
            part = "/".join(
                seg for seg in rel.split(os.sep)[:-1] if "=" in seg
            )
            entry = fstats.get(rel)
            if entry and "#rows" in entry and "#bytes" in entry:
                nrows, nbytes = int(entry["#rows"]), int(entry["#bytes"])
            else:
                path = os.path.join(self.root, rel)
                nrows = int(pq.read_metadata(path).num_rows)
                nbytes = int(os.path.getsize(path))
            acc = agg.setdefault(part, [0, 0, 0])
            acc[0] += 1
            acc[1] += nrows
            acc[2] += nbytes
        rows = [
            (part, acc[0], acc[1], acc[2]) for part, acc in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "partition STRING, file_count LONG, record_count LONG,"
            " size_bytes LONG",
        )

    # ------------------------------------------------------------------ merge
    @staticmethod
    def _key_stats(src: DataFrame, on: list[str]) -> Any:
        """ONE fused aggregation over a merge source or delete key set:
        row count ``__n``, distinct-key count ``__nd`` (the merge
        cardinality check), and the leading key's null count, distinct
        count and min/max that :meth:`_key_prune_filters` plans from.
        At bench scale each Spark action costs ~0.3-0.4 s of scheduling
        and planning regardless of data size, so one job here replaces
        a dup-key probe, a null-key probe and a distinct key count.
        count_distinct(struct(keys)) counts null-keyed groups exactly
        like a groupBy probe would (a struct is never null)."""
        k0 = on[0]
        return scalar_first(
            src.agg(
                F.count(F.lit(1)).alias("__n"),
                F.count_distinct(F.struct(*[F.col(k) for k in on])).alias("__nd"),
                F.sum(F.when(F.col(k0).isNull(), 1).otherwise(0)).alias("__k0_nulls"),
                F.count_distinct(F.col(k0)).alias("__nd_k0"),
                F.min(k0).alias("__mn"),
                F.max(k0).alias("__mx"),
            )
        )

    def _key_prune_filters(
        self, src_keys: DataFrame, on: list[str], stats: Any
    ) -> list[tuple[str, str, Any]] | None:
        """Metadata prune filters derived from a MERGE/DELETE source's
        key values — the scan-planning step that makes row-level ops
        cost O(candidate files), not O(table), on clustered/partitioned/
        bucketed layouts (Iceberg's merge touched-file planning).

        Conservative by construction: candidates must be a SUPERSET of
        files that can hold a matching key. Small key sets become an
        ``in`` filter (translates through bucket dirs AND min/max
        stats); large ones a ``between`` on the leading key (stats +
        order-preserving transforms only). Returns None — no pruning —
        when any source key is NULL: column stats ignore nulls, so a
        file holding NULL-key rows could be wrongly pruned while
        eqNullSafe matching would have touched it.

        ``stats`` is the :meth:`_key_stats` Row over the SAME key frame,
        so the null/cardinality/min-max probes here cost no extra Spark
        jobs; only the ≤1000-value ``in``-list still reads the keys."""
        k0 = on[0]
        if stats["__n"] == 0 or (stats["__k0_nulls"] or 0) > 0:
            return None
        if stats["__nd_k0"] > 1000:
            return [(k0, "between", (stats["__mn"], stats["__mx"]))]
        vals = [r[0] for r in scalar_collect(src_keys.select(k0).distinct())]
        return [(k0, "in", vals)]

    def _candidate_files(
        self, snap: dict[str, Any], version: int, keys: DataFrame,
        on: list[str], stats: Any | None,
    ) -> list[str]:
        """The files of ``snap`` that can hold a key of ``keys``: a
        conservative superset, restricted by manifest stats / partition
        dirs / bucket dirs (see :meth:`_key_prune_filters`). Tables under
        8 files, and key frames without stats, are not pruned."""
        if stats is None or len(snap["files"]) < 8:
            return snap["files"]
        kf = self._key_prune_filters(keys, on, stats)
        return snap["files"] if kf is None else self.pruned_files(kf, version=version)

    @staticmethod
    def _match(left: str, right: str, on: list[str]) -> Column:
        """Null-safe key equality between the aliases ``left`` and
        ``right``, the one match every row-level op uses. A plain
        column-name join is null-rejecting: a target row with a NULL
        merge key would never mark its file as touched — the stale row
        would be carried over while the matching source row was
        re-inserted as NOT MATCHED, yielding duplicates."""
        cond = None
        for k in on:
            c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
            cond = c if cond is None else (cond & c)
        return cond

    def _match_scan(
        self, snap: dict[str, Any], files: list[str], keys: DataFrame,
        on: list[str], small: bool,
    ) -> DataFrame:
        """``(on…, __file)`` of every live row of ``files`` whose key is
        in ``keys``. The read is MOR-aware — raw bytes may hold rows an
        earlier delete already killed, and matching those would
        resurrect them. A ``small`` key set is pinned on the semi join's
        build side: the scan stays map-only, and scalar collects over it
        need no AQE join rescue."""
        t = self._read_snapshot_df(snap, only_files=files, with_file_col="__file")
        k = (F.broadcast(keys) if small else keys).alias("k")
        return (
            t.select(*on, "__file")
            .alias("t")
            .join(k, self._match("t", "k", on), "left_semi")
        )

    def _touched_files(self, matched: DataFrame, small: bool) -> set[str]:
        """Manifest paths of the files ``matched`` (a :meth:`_match_scan`)
        hits: the copy-on-write victims. One collect, bounded by the
        table's file count."""
        files = matched.select("__file").distinct()
        rows = scalar_collect(files) if small else files.collect()
        return {self._rel_of(r["__file"]) for r in rows}

    @staticmethod
    def _rel_of(uri: str) -> str:
        """The manifest path of a ``_metadata.file_path`` URI.

        URIs look like file:///<root>/data/commit-x/part-*.parquet —
        recover the root-relative path for an exact O(1) membership
        test (an endswith scan would be O(files × touched) and can
        false-positive on basename collisions across commits).
        _metadata.file_path is URL-ENCODED ('k=a b' on disk surfaces as
        'k=a%20b', a literal '%' is double-encoded) while manifests hold
        literal on-disk relpaths — unquote ONCE to map between them, or
        partitioned files with special-char values are never seen as
        touched and a merge duplicates their rows."""
        from urllib.parse import unquote

        marker = "/data/"
        idx = uri.rfind(marker)
        rel = "data/" + uri[idx + len(marker):] if idx >= 0 else uri
        return unquote(rel)

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        clause: MergeClause,
        validate_source_unique: bool = True,
        mode: str = "auto",
        summary_extra: dict[str, Any] | None = None,
    ) -> int:
        """MERGE INTO with file pruning; copy-on-write or merge-on-read.

        Semantics mirror Iceberg/Spark ``MERGE INTO`` (reference
        pyspark_functions.py:119-135, athena_functions.py:230-303; the
        delete-aware conditional form of notebook cell 26):

        - MATCHED + delete condition → row removed
        - MATCHED + update condition → ``update_set`` expressions applied
        - NOT MATCHED (+ condition) → insert
        - duplicate source keys raise (Spark/Iceberg merge cardinality
          rule; SURVEY §7 "genuinely hard" #1)

        ``mode='copy-on-write'`` (Iceberg ``write.merge.mode``)
        rewrites every file containing a matched key — read-optimal.
        ``mode='merge-on-read'`` writes only the CHANGED rows plus an
        equality-delete set (Iceberg v2 sequence-number semantics: a
        delete kills rows of strictly lower sequence, so the post-image
        rows committed alongside it survive). Write amplification drops
        from rows-per-touched-file to rows-changed — the mode that keeps
        the reference's failing 3 TB SCD2 case writable — at the cost of
        an anti join on read until ``compact()`` or a copy-on-write
        rewrite materializes the deletes. Both modes produce
        byte-identical table contents (pinned in tests).

        ``mode='auto'`` (default) decides per commit: merge-on-read when
        the source holds at most half as many rows as the candidate
        files (see :meth:`_choose_merge_mode`), copy-on-write otherwise.
        The summary records the chosen ``mode`` with ``source_rows`` and
        ``candidate_rows``, the two inputs of the decision.

        Either mode writes target-sized files (one per 128 MB at the
        weighed files' bytes per row, see :meth:`_target_file_count`),
        not one per join partition, so a copy-on-write restatement
        leaves ``compact()`` nothing to pack.
        """
        if mode not in ("auto", "copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown merge mode {mode!r}")
        base_version = self.current_version()  # optimistic-concurrency basis
        prev = self._read_snapshot(base_version)
        src = source

        # one fused source aggregation serves the duplicate-key check,
        # candidate pruning and the mode choice; the example row for the
        # error message is fetched only on the failure path
        need_stats = validate_source_unique or len(prev["files"]) >= 8
        src_stats = self._key_stats(src, on) if need_stats else None

        if validate_source_unique and src_stats["__n"] > src_stats["__nd"]:
            # failure path only: recover one offending key for the message
            dup = (
                src.groupBy(*on)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            raise ValueError(
                f"MERGE source has duplicate keys on {on}: {dup[0]} — "
                "cardinality violation (each target row may match at most one source row)"
            )

        # The source plan is otherwise re-evaluated by every later pass
        # (in-list fetch, touched-file discovery, the merge apply) — for
        # a delta derived from a table scan that is 2-3 redundant scans
        # per commit. When the fused stats just PROVED the source small,
        # pin it once behind a lineage-truncating checkpoint; large
        # sources keep the re-scan (bounded executor storage beats a
        # multi-GB materialization at 100 TB). Results are unchanged —
        # the passes always required a deterministic source.
        small_src = src_stats is not None and int(src_stats["__n"]) <= 1_000_000
        if small_src:
            src = src.localCheckpoint(eager=False)

        src_keys = src.select(*on).distinct()
        # metadata pre-prune: restrict the touched-file DISCOVERY scan (or
        # the merge-on-read join) to files that can hold a source key at
        # all — on a clustered or bucketed layout the cost drops from
        # O(table) to O(candidate files), and the write-mode choice
        # weighs only them
        candidate_rel = self._candidate_files(prev, base_version, src_keys, on, src_stats)
        mode, decision = self._choose_merge_mode(mode, prev, candidate_rel, src_stats)
        summary = {
            **decision,
            "discovery_candidates": len(candidate_rel),
            **(summary_extra or {}),
        }

        if mode == "merge-on-read":
            # MOR rewrites nothing, so there are no victims to discover:
            # join straight against the candidate files (a superset of
            # every file holding a source key). They are read MOR-aware —
            # raw bytes may hold rows an earlier delete already killed,
            # and matching those would resurrect them.
            target = self._read_snapshot_df(prev, only_files=candidate_rel)
            # at most one post-image per source row: size the delta's
            # files from that bound, not one file per join partition
            # (every file is a listing entry on each later read)
            n_out = self._target_file_count(
                prev, candidate_rel, decision["source_rows"]
            )
            if self._post_images_cover_deletes(on, clause):
                # one file set, one job: the post-images double as the
                # equality-delete set (their keys are the updated keys
                # plus insert keys that match no live row; rows of the
                # delete's own sequence survive it)
                new_files = self._write_files(
                    self._sized(self._merge_post_images(target, src, on, clause), n_out)
                )
                del_files = new_files
            else:
                delete_keys, new_rows = self._apply_merge_mor(
                    target, src, on, clause
                )
                # delete keys are tiny next to the data they replace a
                # rewrite of; coalesce (no shuffle) so a merge adds a
                # handful of delete files, not one per join partition
                del_files = self._write_files(delete_keys.coalesce(4))
                new_files = self._write_files(self._sized(new_rows, n_out))
            new_dels = [{"file": rel, "seq": None, "keys": list(on)} for rel in del_files]
            files = prev["files"] + new_files
            delete_files = list(prev.get("delete_files") or []) + new_dels
            summary.update(
                rewritten_files=0,
                carried_files=len(prev["files"]),
                added_files=len(new_files),
                added_delete_files=len(del_files),
            )
        else:
            # file-level pruning: only files containing key matches are
            # rewritten (matched null-safely, like _apply_merge)
            touched_set = self._touched_files(
                self._match_scan(prev, candidate_rel, src_keys, on, small_src),
                small_src,
            )
            untouched_rel = [rel for rel in prev["files"] if rel not in touched_set]
            touched_rel = [rel for rel in prev["files"] if rel in touched_set]

            # touched files are read MOR-aware: raw bytes may contain rows an
            # earlier merge-on-read delete already killed — matching (or
            # rewriting) those would resurrect them
            if touched_rel:
                target_touched = self._read_snapshot_df(prev, only_files=touched_rel)
            else:
                target_touched = self.read(version=base_version).limit(0)

            # at most every touched row plus one per source row: size the
            # rewrite like a merge-on-read delta, not one file per join
            # partition, so compact() finds nothing left to pack
            src_rows = decision["source_rows"]
            t_rows = self._manifest_rows(prev, touched_rel)
            n_out = self._target_file_count(
                prev,
                touched_rel,
                None if src_rows is None or t_rows is None else t_rows + src_rows,
            )
            new_files = self._write_files(
                self._sized(self._apply_merge(target_touched, src, on, clause), n_out)
            )
            files = untouched_rel + new_files
            # carried UNTOUCHED files may still have live equality-deletes
            # against them; rewritten files take this commit's sequence,
            # putting them out of every existing delete's reach
            delete_files = prev.get("delete_files")
            summary.update(
                rewritten_files=len(touched_rel),
                carried_files=len(untouched_rel),
                added_files=len(new_files),
            )
        return self._commit(
            files,
            "merge",
            summary,
            prev["schema"],
            expected_version=base_version,
            delete_files=delete_files,
            file_seqs=prev.get("file_seqs"),
            # merge deltas write unpartitioned (the partition columns ride
            # IN the files — same read schema, footer-stats prunable);
            # compact() restores the directory layout
            partition_by=prev.get("partition_by"),
        )

    @staticmethod
    def _choose_merge_mode(
        mode: str,
        prev: dict[str, Any],
        candidate_rel: list[str],
        src_stats: Any | None,
    ) -> tuple[str, dict[str, Any]]:
        """Resolve ``mode='auto'`` for one commit; explicit modes pass
        through. Copy-on-write rewrites the candidate files' rows,
        merge-on-read writes about the source's rows and taxes reads
        until compaction — so MOR wins when the source holds at most
        half the candidate rows. Both inputs are already on hand: the
        source count from merge()'s fused aggregation, the candidate
        rows from the manifest's ``#rows``. Without either (stats-free
        files, or a merge that skipped the aggregation) the choice
        falls back to copy-on-write rather than pay a Spark job.
        Returns the mode and the summary entries that record why."""
        cand_rows = SnapshotTable._manifest_rows(prev, candidate_rel)
        src_rows = None if src_stats is None else int(src_stats["__n"])
        chosen = mode
        if mode == "auto":
            small = (
                src_rows is not None
                and cand_rows is not None
                and 2 * src_rows <= cand_rows
            )
            chosen = "merge-on-read" if small else "copy-on-write"
        return chosen, {
            "mode": chosen,
            "source_rows": src_rows,
            "candidate_rows": cand_rows,
        }

    @staticmethod
    def _manifest_rows(prev: dict[str, Any], rels: list[str]) -> int | None:
        """Total manifest ``#rows`` of ``rels``; None if any file lacks
        stats (the count would be a guess)."""
        stats = prev.get("file_stats") or {}
        counts = [(stats.get(rel) or {}).get("#rows") for rel in rels]
        return None if None in counts else int(sum(counts))

    @staticmethod
    def _target_file_count(
        prev: dict[str, Any], rels: list[str], out_rows: int | None
    ) -> int | None:
        """Files for a row-level write of at most ``out_rows`` rows: one
        per 128 MB (compact()'s default target) at ``rels``' bytes per
        row, and at least one — Iceberg's ``write.target-file-size-bytes``.
        A merge-on-read delta weighs its candidate files, a copy-on-write
        rewrite the files it replaces. None (keep the plan's
        partitioning) when the row bound is unknown or ``rels`` hold no
        counted rows."""
        stats = prev.get("file_stats") or {}
        rows = sum((stats.get(rel) or {}).get("#rows", 0) for rel in rels)
        size = sum((stats.get(rel) or {}).get("#bytes", 0) for rel in rels)
        if out_rows is None or rows == 0:
            return None
        return max(1, -(-out_rows * size // (rows * (128 << 20))))

    @staticmethod
    def _sized(df: DataFrame, n: int | None) -> DataFrame:
        """``df`` coalesced (no shuffle, no extra job) to ``n`` files."""
        return df if n is None else df.coalesce(n)

    @staticmethod
    def _post_images_cover_deletes(on: list[str], clause: MergeClause) -> bool:
        """True iff a MOR commit's post-image rows can serve as its own
        equality-delete set: no matched row is deleted without a
        post-image, and every post-image carries its target row's key
        (updates leave the key columns alone, inserts take the source
        key). The extra keys are inserts, which match no live row."""
        if clause.matched_delete_condition:
            return False
        upd = clause.matched_update or {}
        ins = clause.insert_values or {}
        return all(
            upd.get(k, f"s.{k}") in (f"s.{k}", f"t.{k}")
            and ins.get(k, f"s.{k}") == f"s.{k}"
            for k in on
        )

    def delete_keys(
        self,
        keys_df: DataFrame,
        on: list[str],
        prune_filters: list[tuple[str, str, Any]] | None = None,
        summary_extra: dict[str, Any] | None = None,
        mode: str = "copy-on-write",
    ) -> int:
        """Row-level DELETE by key set (Iceberg ``DELETE FROM t WHERE
        key IN (…)``): every row whose ``on``-key appears in ``keys_df``
        is removed, rewriting ONLY the files that contain a match —
        untouched files are carried by reference. The takedown primitive
        every standing-state artifact's delete surface routes through.

        Unlike a delete-only :meth:`merge`, the target needs NO
        key-uniqueness (band indexes hold many rows per id) and the
        match scan is column-pruned to the key columns. Pass
        ``prune_filters`` when the key maps to the table's partition
        layout (id-bucketed lookups, cell-located inverted lists) to
        restrict even the MATCH scan to the relevant partitions' files
        — the scan then reads O(touched partitions), never the table.

        ``mode='merge-on-read'`` writes an EQUALITY-DELETE file instead
        of rewriting anything (Iceberg v2's takedown shape): write cost
        is O(|matched keys|) however the victims scatter across a
        100 TB table, at the price of an anti join on every read until
        ``compact()`` materializes the deletes. Both modes produce
        byte-identical table contents (the merge() contract).

        Both modes start from ONE match scan of the candidate files,
        column-pruned to ``(keys, file)`` and checkpointed: its count is
        the exact number of rows deleted (0 commits nothing), its
        distinct keys are the merge-on-read delete set, and its distinct
        files are the copy-on-write victims.

        Returns the number of rows deleted (0 = no commit, so a no-op
        takedown never grows the snapshot log)."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown delete mode {mode!r}")
        base_version = self.current_version()
        snap = self._read_snapshot(base_version)
        src = keys_df.select(*on).distinct().localCheckpoint(eager=False)
        # caller-supplied filters win; otherwise derive them from the key
        # set, same conservative planning as merge() — a takedown batch
        # scans candidate files, not the table
        stats_free = prune_filters or len(snap["files"]) < 8
        key_stats = None if stats_free else self._key_stats(src, on)
        if prune_filters:
            candidates = self.pruned_files(prune_filters, version=base_version)
        else:
            candidates = self._candidate_files(snap, base_version, src, on, key_stats)
        # merge()'s bound: a small key set is pinned on the join build side
        small_keys = key_stats is not None and int(key_stats["__n"]) <= 1_000_000
        hit = self._match_scan(snap, candidates, src, on, small_keys)
        hit = hit.localCheckpoint(eager=False)
        n_deleted = int(scalar_count(hit))
        if n_deleted == 0:
            return 0  # no match: commit nothing
        summary = {"deleted_rows": n_deleted, "mode": mode}
        if mode == "merge-on-read":
            # write only the keys that actually match: the read-side
            # anti join stays |victims|-sized, and absent keys add no
            # state
            del_files = self._write_files(hit.select(*on).distinct().coalesce(4))
            files = snap["files"]
            delete_files = list(snap.get("delete_files") or []) + [
                {"file": rel, "seq": None, "keys": list(on)} for rel in del_files
            ]
            summary.update(
                rewritten_files=0,
                carried_files=len(files),
                added_delete_files=len(del_files),
            )
        else:
            # copy-on-write: rewrite only the files the match scan hit (a
            # checkpoint read, so its collect needs no join rescue)
            touched_set = self._touched_files(hit, small=True)
            touched_rel = [rel for rel in snap["files"] if rel in touched_set]
            k_pr = (F.broadcast(src) if small_keys else src).alias("k")
            kept_rows = (
                self._read_snapshot_df(snap, only_files=touched_rel)
                .alias("t")
                .join(k_pr, self._match("t", "k", on), "left_anti")
            )
            part_by = snap.get("partition_by") or None
            if not part_by:
                # kept rows are at most the touched rows: target-sized
                # files, like a copy-on-write merge (a partitioned write
                # keeps one file set per partition value instead)
                kept_rows = self._sized(
                    kept_rows,
                    self._target_file_count(
                        snap, touched_rel, self._manifest_rows(snap, touched_rel)
                    ),
                )
            new_files = self._write_files(kept_rows, partition_by=part_by)
            keep = [rel for rel in snap["files"] if rel not in touched_set]
            files = keep + new_files
            # carried files may still have live equality-deletes against
            # them; rewritten files take this commit's sequence (same
            # model as copy-on-write merge)
            delete_files = snap.get("delete_files")
            summary.update(
                rewritten_files=len(touched_rel),
                carried_files=len(keep),
                added_files=len(new_files),
            )
        self._commit(
            files,
            "delete",
            {**summary, **(summary_extra or {})},
            snap["schema"],
            expected_version=base_version,
            delete_files=delete_files,
            file_seqs=snap.get("file_seqs"),
            partition_by=snap.get("partition_by"),
        )
        return n_deleted

    @staticmethod
    def _merge_join(
        target: DataFrame,
        source: DataFrame,
        on: list[str],
        clause: MergeClause,
        how: str = "full_outer",
    ) -> tuple[DataFrame, Column, Column, Column, dict[str, tuple[Column, Column]]]:
        """The null-safe key join and clause predicates every merge
        write shares: ``(joined, delete_cond, update_cond, insert_cond,
        {column: (update_expr, insert_expr)})`` over target columns.

        Presence markers (not key-null tests) make the clause logic
        robust to null key values and all-null rows."""
        t = target.withColumn("__t_present", F.lit(True)).alias("t")
        s = source.withColumn("__s_present", F.lit(True)).alias("s")
        joined = t.join(s, SnapshotTable._match("t", "s", on), how)
        has_t = F.col("t.__t_present").isNotNull()
        has_s = F.col("s.__s_present").isNotNull()

        matched = has_t & has_s
        delete_cond = (
            matched & F.expr(clause.matched_delete_condition)
            if clause.matched_delete_condition
            else F.lit(False)
        )
        if clause.matched_update is None:
            update_cond = F.lit(False)
        else:
            update_cond = matched & ~delete_cond
            if clause.matched_update_condition:
                update_cond = update_cond & F.expr(clause.matched_update_condition)

        insert_cond = (~has_t) & has_s
        if clause.insert_condition:
            insert_cond = insert_cond & F.expr(clause.insert_condition)
        if not clause.insert_when_not_matched:
            insert_cond = F.lit(False)

        exprs = {}
        for c in target.columns:
            upd = (
                F.expr(clause.matched_update[c])
                if clause.matched_update and c in clause.matched_update
                else F.col(f"t.{c}")
            )
            ins = (
                F.expr(clause.insert_values[c])
                if clause.insert_values and c in clause.insert_values
                else (F.col(f"s.{c}") if c in source.columns else F.lit(None))
            )
            exprs[c] = (upd, ins)
        return joined, delete_cond, update_cond, insert_cond, exprs

    def _merge_post_images(
        self, target: DataFrame, source: DataFrame, on: list[str], clause: MergeClause
    ) -> DataFrame:
        """Merge-on-read rows to write: update post-images plus inserts.
        Source-driven (target rows nothing matches never enter the
        join), so one lazy frame feeds one write."""
        joined, _, update_cond, insert_cond, exprs = self._merge_join(
            target, source, on, clause, how="right_outer"
        )
        return joined.filter(update_cond | insert_cond).select(
            *[F.when(update_cond, u).otherwise(i).alias(c) for c, (u, i) in exprs.items()]
        )

    def _apply_merge_mor(
        self, target: DataFrame, source: DataFrame, on: list[str], clause: MergeClause
    ) -> tuple[DataFrame, DataFrame]:
        """Merge-on-read delta: ``(delete_keys, new_rows)``.

        Same clause semantics as :meth:`_apply_merge`, expressed as a
        delta instead of a rewrite: every matched row that is deleted OR
        updated contributes its key to the equality-delete frame; the
        update post-images and the inserts are the new data rows. Rows
        that match nothing are never read into the output — that is the
        write-amplification win.
        """
        joined, delete_cond, update_cond, insert_cond, exprs = self._merge_join(
            target, source, on, clause
        )
        # ONE evaluation of the join, materialized at changed-rows size:
        # delete keys and post-image rows both project from this frame.
        # Two separate jobs over the uncached join would double the
        # dominant cost AND could disagree if the source is
        # nondeterministic — committing delete keys whose post-images
        # were never written.
        delta = (
            joined.filter(delete_cond | update_cond | insert_cond)
            .select(
                *[F.col(f"t.{k}").alias(f"__k_{k}") for k in on],
                (delete_cond | update_cond).alias("__is_del"),
                (update_cond | insert_cond).alias("__is_new"),
                *[
                    F.when(update_cond, u).otherwise(i).alias(c)
                    for c, (u, i) in exprs.items()
                ],
            )
            .localCheckpoint()
        )
        delete_keys = delta.filter(F.col("__is_del")).select(
            *[F.col(f"__k_{k}").alias(k) for k in on]
        )
        new_rows = delta.filter(F.col("__is_new")).select(*target.columns)
        return delete_keys, new_rows

    def _apply_merge(
        self, target: DataFrame, source: DataFrame, on: list[str], clause: MergeClause
    ) -> DataFrame:
        """Row-level merge semantics via one full-outer join + projection."""
        joined, delete_cond, update_cond, insert_cond, exprs = self._merge_join(
            target, source, on, clause
        )
        has_t = F.col("t.__t_present").isNotNull()
        keep = ~delete_cond & (has_t | insert_cond)
        return joined.filter(keep).select(
            *[
                F.when(update_cond, u)
                .when(insert_cond, i)
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c, (u, i) in exprs.items()
            ]
        )

    # ------------------------------------------------------------ maintenance
    def compact(
        self,
        target_file_mb: int = 128,
        *,
        strategy: str = "binpack",
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
        sort_by: list[str] | None = None,
        target_files: int | None = None,
    ) -> int:
        """Data-file rewrite (reference ``OPTIMIZE … REWRITE DATA USING
        BIN_PACK``, notebook cell 45 / SURVEY M8; Iceberg's
        ``rewrite_data_files`` sort/zorder strategies).

        ``strategy='binpack'`` coalesces small files to ``target_file_mb``.
        ``strategy='zorder'`` additionally CLUSTERS the rewritten files on
        the interleaved-bit Z-value of ``zorder_by`` (min/max-normalized,
        ``zorder_bits`` bits per column): ``repartitionByRange`` on the
        Z-value gives each output file a tight bounding box over ALL
        zorder columns, so single-column predicates on any of them prune
        files — the multi-dimensional layout optimization Iceberg/Delta
        expose as ZORDER. Scale: the Z-value is a codegen'd integer
        expression (no UDF); min/max stats are one tiny scalar aggregate;
        the rewrite itself is one range shuffle of the table — identical
        cost class to binpack + sort.

        ``target_files`` overrides the size-derived file count (layout
        control for small tables). Data content is bit-identical either
        way; only the file layout changes.

        A binpack of a table it cannot improve (see :meth:`_is_packed`:
        no delete files, already the target count, unpartitioned, every
        file written under the current schema) writes no data file and
        runs no Spark job: it commits the same files with ``rewritten``
        and ``added`` 0, so the version advances as after any rewrite.
        The file count comes from the manifest's ``#bytes``.
        """
        base_version = self.current_version()
        snap = self._read_snapshot(base_version)
        # size from the manifest; stat only files committed without stats
        stats = snap.get("file_stats") or {}
        total_bytes = sum(
            (stats.get(rel) or {}).get("#bytes")
            or os.path.getsize(os.path.join(self.root, rel))
            for rel in snap["files"]
        )
        n = target_files or max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        part_by = snap.get("partition_by") or None
        if strategy == "binpack" and self._is_packed(snap, n):
            # nothing to improve: commit the same files (and sequences)
            # without reading or writing a byte, so the version still
            # advances exactly as a rewrite's would
            return self._commit(
                snap["files"],
                "rewrite_data_files",
                {"strategy": strategy, "rewritten": 0, "added": 0},
                snap["schema"],
                expected_version=base_version,
                file_seqs=snap.get("file_seqs"),
                partition_by=part_by,
            )
        df = self.read(version=base_version)
        summary: dict[str, Any] = {
            "strategy": strategy,
            "rewritten": len(snap["files"]),
        }
        if strategy == "zorder":
            if not zorder_by:
                raise ValueError("strategy='zorder' requires zorder_by columns")
            if part_by:
                raise ValueError(
                    "zorder compaction of a partitioned table is not "
                    "supported — binpack preserves the partition layout; "
                    "use zorder on unpartitioned tables"
                )
            zkey = self._zvalue(df, zorder_by, zorder_bits)
            arranged = (
                df.withColumn("__z", zkey)
                .repartitionByRange(n, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            files = self._write_files(arranged)
            summary["zorder_by"] = list(zorder_by)
        elif strategy == "sort":
            # Iceberg rewrite_data_files(strategy => 'sort'): a GLOBAL
            # order on sort_by — range-partition then sort within, so
            # each output file owns a disjoint key range and manifest
            # min/max pruning on the leading column is surgical. The
            # single-dimension clustering complement to zorder (which
            # trades per-column tightness for multi-column bounding
            # boxes); same cost class — one range shuffle of the table.
            if not sort_by:
                raise ValueError("strategy='sort' requires sort_by columns")
            if part_by:
                raise ValueError(
                    "sort compaction of a partitioned table is not "
                    "supported — binpack preserves the partition layout; "
                    "use sort on unpartitioned tables"
                )
            arranged = df.repartitionByRange(
                n, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
            files = self._write_files(arranged)
            summary["sort_by"] = list(sort_by)
        elif strategy == "binpack":
            files = self._write_files(df, target_partitions=n, partition_by=part_by)
        else:
            raise ValueError(f"unknown compaction strategy {strategy!r}")
        summary["added"] = len(files)
        return self._commit(
            files,
            "rewrite_data_files",
            summary,
            snap["schema"],
            expected_version=base_version,
            partition_by=part_by,
        )

    def _is_packed(self, snap: dict[str, Any], n: int) -> bool:
        """True iff a binpack rewrite of ``snap`` into ``n`` files has
        nothing to improve (Iceberg's ``rewrite_data_files`` leaves such
        files alone): no live delete file to materialize,
        already ``n`` files, an unpartitioned table whose files sit in
        no partition directory, and every file written under the
        current schema — each file's sequence names the snapshot that
        committed it, and a file from an older schema may still carry a
        dropped column's bytes. A file whose snapshot is gone counts as
        written under another schema."""
        files = snap["files"]
        if (
            snap.get("delete_files")
            or len(files) != n
            or snap.get("partition_by")
            or any(self._is_partitioned_rel(rel) for rel in files)
        ):
            return False
        seqs = snap.get("file_seqs") or {}
        if any(rel not in seqs for rel in files):
            return False
        for seq in {int(seqs[rel]) for rel in files}:
            try:
                if self._read_snapshot(seq)["schema"] != snap["schema"]:
                    return False
            except (OSError, ValueError, KeyError):
                return False
        return True

    @staticmethod
    def _zvalue(df: DataFrame, cols: list[str], bits: int) -> Column:
        """Interleaved-bit Z-value over min/max-normalized columns.

        Numeric/timestamp columns quantize to ``bits``-bit integer ranks
        via (v - min) / (max - min); NULLs and degenerate (min == max)
        columns rank 0. The driver-side state is one min/max row —
        constant at any table size (same class as IVF's centroid rows).
        """
        # The interleave must fit in the 63 value bits of a signed long:
        # bit index bits*k-1 reaching 63 would flip the sign (inverting
        # the most-significant ordering) and ≥64 wraps shiftleft mod 64,
        # silently colliding bits. Auto-reduce bits per column — fewer
        # bits per column only coarsens clustering, never corrupts it.
        if bits * len(cols) > 63:
            bits = 63 // len(cols)
            if bits == 0:
                raise ValueError(
                    f"zorder over {len(cols)} columns cannot fit one bit per "
                    "column in a 64-bit Z-value; reduce the column list"
                )
        stats = scalar_first(
            df.agg(
                *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
                *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
            )
        )
        top = (1 << bits) - 1
        quantized: list[Column] = []
        for c in cols:
            mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
            if mn is None or mx is None or mx == mn:
                quantized.append(F.lit(0).cast("long"))
                continue
            scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn) * top
            quantized.append(
                F.coalesce(
                    F.least(F.greatest(F.floor(scaled), F.lit(0)), F.lit(top)),
                    F.lit(0),
                ).cast("long")
            )
        k = len(quantized)
        acc: Column = F.lit(0).cast("long")
        for b in range(bits):
            for j, q in enumerate(quantized):
                bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
                acc = acc + F.shiftleft(bit.cast("long"), b * k + j)
        return acc

    def rollback(self, version: int) -> int:
        """Roll the table back to a previous snapshot (Iceberg
        ``rollback_to_snapshot``): a NEW snapshot referencing the old
        file set — history is preserved, nothing is deleted, and the
        rollback itself can be rolled back."""
        base = self.current_version()
        snap = self._read_snapshot(version)  # raises if unknown
        return self._commit(
            snap["files"],
            "rollback",
            {"to_version": version},
            snap["schema"],
            expected_version=base,
            delete_files=snap.get("delete_files"),
            file_seqs=snap.get("file_seqs"),
            partition_by=snap.get("partition_by"),
        )

    def remove_orphan_files(self, older_than_ms: int | None = None) -> int:
        """Delete data files not referenced by ANY snapshot (Iceberg
        ``remove_orphan_files``): crashed or aborted writes leave
        parquet files in the data dir that no manifest points to; they
        are invisible to readers but leak storage forever at scale.

        Files modified at or after ``older_than_ms`` are SKIPPED (default:
        10 minutes ago). Under the optimistic-concurrency model an
        in-flight writer's ``_write_files`` output is unreferenced until
        its ``_commit`` lands; deleting it would make that commit publish
        dangling file references (data loss). Iceberg's
        ``remove_orphan_files`` requires ``older_than`` for exactly this
        reason — pass an explicit cutoff only when no writers are live."""
        if older_than_ms is None:
            older_than_ms = int(time.time() * 1000) - 10 * 60 * 1000
        referenced = {rel for s in self._snapshots() for rel in s["files"]}
        referenced |= {
            d["file"] for s in self._snapshots() for d in s.get("delete_files") or []
        }
        # a file only THIS timeline stopped referencing may still be live
        # on main or a branch — never GC across timelines
        referenced |= self._external_snapshot_files()
        removed = 0
        if not os.path.isdir(self._data_dir):
            return 0
        # walk the FULL tree: partitioned commits nest files under k=v
        # directories, which a single-level listdir never reaches
        for dirpath, _, names in os.walk(self._data_dir, topdown=False):
            for name in names:
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, self.root)
                if (
                    name.endswith(".parquet")
                    and rel not in referenced
                    and os.path.getmtime(path) * 1000 < older_than_ms
                ):
                    os.remove(path)
                    removed += 1
            # bottom-up: drop dirs that hold nothing but writer markers
            # (_SUCCESS/.crc) once their parquet content is gone; the age
            # guard keeps in-flight writers' directories safe
            leftover = os.listdir(dirpath)
            if (
                dirpath != self._data_dir
                and os.path.getmtime(dirpath) * 1000 < older_than_ms
                and all(n == "_SUCCESS" or n.endswith(".crc") for n in leftover)
            ):
                for n in leftover:
                    os.remove(os.path.join(dirpath, n))
                os.rmdir(dirpath)
        return removed

    # ---------------------------------------------------------- branches
    @property
    def _branches_dir(self) -> str:
        return os.path.join(self.root, "branches")

    def create_branch(self, name: str) -> "BranchTable":
        """Fork a WRITABLE branch at the current snapshot (Iceberg
        branch refs; the write-audit-publish staging pattern): the
        branch gets a private snapshot log + VERSION pointer seeded by
        copying the manifests (cheap JSON — DATA FILES ARE SHARED), so
        its commits are invisible to main readers until
        :meth:`fast_forward` publishes them. Commit dirs are
        uuid-unique, so concurrent main/branch writes never collide on
        data paths, and orphan GC / expiry on ANY timeline treats every
        other timeline's references as live."""
        if not name or "/" in name or os.sep in name or name != name.strip():
            raise ValueError(f"invalid branch name {name!r}")
        bdir = os.path.join(self._branches_dir, name)
        if os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} already exists")
        cur = self.current_version()
        os.makedirs(os.path.join(bdir, "snapshots"))
        for s in self._snapshots():
            # seed ONLY history up to the fork point: a manifest above
            # `cur` (a concurrently-landing main commit, or a crashed
            # writer's completed-but-unadopted manifest) copied into the
            # branch log would collide with the branch's own first
            # commit (EEXIST) and fold a MAIN commit into the branch
            # timeline — silently breaking WAP isolation while FORK
            # still records the older version.
            if s["version"] > cur:
                continue
            shutil.copyfile(
                self._snapshot_path(s["version"]),
                os.path.join(bdir, "snapshots", f"v{s['version']:08d}.json"),
            )
        with open(os.path.join(bdir, "FORK"), "w") as f:
            json.dump({"fork_version": cur}, f)
        with open(os.path.join(bdir, "VERSION"), "w") as f:
            f.write(str(cur))
        return BranchTable(self.spark, self.root, name)

    def branch(self, name: str) -> "BranchTable":
        if not os.path.isdir(os.path.join(self._branches_dir, name)):
            raise ValueError(f"branch {name!r} does not exist")
        return BranchTable(self.spark, self.root, name)

    def branches(self) -> list[str]:
        if not os.path.isdir(self._branches_dir):
            return []
        return sorted(
            n for n in os.listdir(self._branches_dir)
            if os.path.isdir(os.path.join(self._branches_dir, n))
        )

    def drop_branch(self, name: str) -> None:
        """Abandon a branch (audit failed). Its private snapshots go;
        its data files become orphans the next GC sweep collects."""
        bdir = os.path.join(self._branches_dir, name)
        if not os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} does not exist")
        shutil.rmtree(bdir)

    def fast_forward(self, name: str) -> int:
        """PUBLISH a branch: fast-forward main to the branch head
        (Iceberg ``fast_forward``; the WAP publish step). Requires main
        to be UNCHANGED since the fork — a diverged main is a real
        conflict and raises ``ConcurrentCommitError`` (rebase by
        re-branching; no silent merge). The branch's post-fork
        manifests are copied into main's log and the pointer flips
        under the ownership-token lock, so published history
        time-travels on main exactly as it did on the branch."""
        br = self.branch(name)
        with open(os.path.join(self._branches_dir, name, "FORK")) as f:
            fork_version = int(json.load(f)["fork_version"])
        # the whole publish runs under the HELD version lock: the
        # divergence check, the manifest links, and the pointer write
        # are one critical section, so a concurrent main commit either
        # lands before (we raise on the re-check / manifest mismatch)
        # or blocks on the lock for its pointer flip — never a silent
        # no-op publish. A concurrent writer's manifest LINK is not
        # lock-gated, so every link here handles EEXIST by content
        # comparison: an alien manifest at a branch version number is a
        # real conflict.
        lock, token = self._acquire_version_lock()
        linked: list[tuple[int, str]] = []
        try:
            cur = self.current_version()
            if cur != fork_version:
                raise ConcurrentCommitError(
                    f"main advanced to v{cur} since branch {name!r} forked "
                    f"at v{fork_version}; re-branch from current state to "
                    "rebase"
                )
            head = br.current_version()
            for s in br._snapshots():
                if s["version"] <= fork_version:
                    continue
                # A publish can link MANY manifests — an unbounded hold.
                # Re-verify ownership and refresh the lock mtime per
                # manifest so (a) a LIVE publish never ages past the 2 s
                # steal window however long it runs, and (b) a publisher
                # that really did stall and get stolen from stops
                # IMMEDIATELY. The raise lands in the except handler
                # below, whose not-holding branch withdraws the
                # partially-linked manifests (under a re-acquired lock)
                # before any commit can adopt them — no inline withdraw
                # here, or the cleanup would run (and contend for the
                # lock) twice.
                if not self._holds_lock(lock, token):
                    raise ConcurrentCommitError(
                        "VERSION lock stolen mid-publish (stall past the "
                        "steal window); the partially-linked manifests were "
                        "withdrawn — retry fast_forward"
                    )
                os.utime(lock)
                dst = self._snapshot_path(s["version"])
                srcp = br._snapshot_path(s["version"])
                if not os.path.exists(dst):
                    try:
                        os.link(srcp, dst)  # exclusive, like _commit
                        linked.append((s["version"], dst))
                        continue
                    except FileExistsError:
                        pass  # raced a concurrent commit — compare below
                with open(dst) as f:
                    theirs = json.load(f)
                with open(srcp) as f:
                    ours = json.load(f)
                if theirs != ours:
                    raise ConcurrentCommitError(
                        f"main committed its own v{s['version']} while "
                        f"branch {name!r} was being published; re-branch "
                        "to rebase"
                    )
            if self.current_version() < head:
                vtmp = self._version_file() + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(vtmp, "w") as f:
                    f.write(str(head))
                if not self._holds_lock(lock, token):
                    os.remove(vtmp)
                    raise ConcurrentCommitError(
                        "VERSION lock stolen during publish (stall past the "
                        "steal window); retry fast_forward"
                    )
                os.replace(vtmp, self._version_file())
            return head
        except BaseException:
            if self._holds_lock(lock, token):
                # unpublish OUR manifest links while still holding the
                # lock — no adopter can flip the pointer to them while
                # the flip lock is ours, and the flip path re-verifies
                # the manifest still exists before any pointer write
                for _, dst in linked:
                    try:
                        os.remove(dst)
                    except OSError:
                        pass
            else:
                # stolen mid-failure: withdraw whatever was not adopted,
                # under a re-acquired lock (see _unpublish_links)
                self._unpublish_links(linked)
            raise
        finally:
            if self._holds_lock(lock, token):
                try:
                    os.remove(lock)
                except OSError:
                    pass

    def _unpublish_links(self, linked: list[tuple[int, str]]) -> None:
        """Withdraw manifests a stolen-from publish linked, WITHOUT
        breaking the chain: re-acquire the VERSION lock (an adopter's
        pointer flip needs the same lock, so while we hold it the set of
        adopted versions is frozen) and unlink only manifests still ABOVE
        the current pointer — an already-adopted version must stay."""
        try:
            lock, token = self._acquire_version_lock()
        except ConcurrentCommitError:
            return  # lock unobtainable: leave the manifests; adoption
            #         of a complete manifest is safe, just un-audited
        try:
            cur = self.current_version()
            for v, dst in linked:
                if v > cur:
                    try:
                        os.remove(dst)
                    except OSError:
                        pass
        finally:
            if self._holds_lock(lock, token):
                try:
                    os.remove(lock)
                except OSError:
                    pass

    def _external_snapshot_files(self) -> set[str]:
        """Root-relative files referenced by snapshot manifests OUTSIDE
        this handle's own log (main's if we are a branch, every
        branch's if we are main, sibling branches either way) — GC on
        one timeline must treat the others' references as live."""
        dirs = [os.path.join(self.root, "snapshots")]
        if os.path.isdir(self._branches_dir):
            dirs += [
                os.path.join(self._branches_dir, n, "snapshots")
                for n in os.listdir(self._branches_dir)
            ]
        own = os.path.abspath(self._snap_dir)
        refs: set[str] = set()
        for d in dirs:
            if not os.path.isdir(d) or os.path.abspath(d) == own:
                continue
            for nm in os.listdir(d):
                if nm.startswith("v") and nm.endswith(".json"):
                    with open(os.path.join(d, nm)) as f:
                        s = json.load(f)
                    refs.update(s["files"])
                    refs.update(
                        dd["file"] for dd in s.get("delete_files") or []
                    )
        return refs

    # -------------------------------------------------------------- tags
    @property
    def _tag_dir(self) -> str:
        return os.path.join(self.root, "tags")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a NAMED IMMUTABLE ref to a snapshot (Iceberg
        ``create_tag`` / ``ALTER TABLE … CREATE TAG``): release audits
        and reproducible training runs read the tag, and
        ``expire_snapshots`` RETAINS tagged snapshots however old — a
        tag is a GC root, exactly Iceberg's retention semantics."""
        if not name or "/" in name or os.sep in name or name != name.strip():
            raise ValueError(f"invalid tag name {name!r}")
        v = self.current_version() if version is None else int(version)
        if not os.path.exists(self._snapshot_path(v)):
            raise ValueError(f"no snapshot v{v} to tag")
        os.makedirs(self._tag_dir, exist_ok=True)
        path = os.path.join(self._tag_dir, f"{name}.json")
        # O_EXCL: a tag is immutable — re-pointing it silently would
        # break every consumer that trusted the name
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists (tags are immutable)")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"name": name, "version": v,
                 "timestamp_ms": int(time.time() * 1000)}, f,
            )
        return v

    def drop_tag(self, name: str) -> None:
        path = os.path.join(self._tag_dir, f"{name}.json")
        if not os.path.exists(path):
            raise ValueError(f"tag {name!r} does not exist")
        os.remove(path)

    def tags(self) -> dict[str, int]:
        """name -> pinned version, for every live tag."""
        if not os.path.isdir(self._tag_dir):
            return {}
        out: dict[str, int] = {}
        for n in sorted(os.listdir(self._tag_dir)):
            if n.endswith(".json"):
                with open(os.path.join(self._tag_dir, n)) as f:
                    t = json.load(f)
                out[t["name"]] = int(t["version"])
        return out

    def read_tag(self, name: str) -> DataFrame:
        """Read the snapshot a tag pins (time travel by name)."""
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"tag {name!r} does not exist")
        return self.read(version=tags[name])

    @property
    def _epoch_marks_dir(self) -> str:
        # sibling of the snapshot log so a branch timeline gets its own
        return os.path.join(os.path.dirname(self._snap_dir), "epoch_marks")

    def sink_epoch_floors(self) -> dict[str, int]:
        """Per-``sink_query_id`` epoch watermarks carried forward by
        :meth:`expire_snapshots` when it drops manifests whose summaries
        held exactly-once epoch markers. A consumer's dedup floor is
        ``max(this, markers still visible in the log)`` — without the
        carry-forward, a quiet stream whose newest marker scrolls past
        the retention horizon (because OTHER writers keep committing)
        would lose its replay detection and double-apply the epoch."""
        # A deleted mark file implies a DOMINATING successor exists (the
        # merge-and-supersede protocol writes the merged file before
        # removing the old ones) — but that successor may have landed
        # AFTER this scan's listdir and so be absent from the captured
        # listing. Skipping the deleted file would silently lose its
        # floors for this read (r9 ADVICE medium: a restarted sink whose
        # log markers were expired could double-apply a replayed epoch),
        # so restart the scan on a FRESH listing instead. Bounded
        # retries: each restart needs a concurrent expiry to have
        # completed a whole supersede cycle meanwhile, so contention
        # this deep is pathological and worth failing loudly.
        for _ in range(20):
            out: dict[str, int] = {}
            if not os.path.isdir(self._epoch_marks_dir):
                return out
            try:
                for name in os.listdir(self._epoch_marks_dir):
                    if not name.endswith(".json"):
                        continue
                    marks = read_json_meta(
                        os.path.join(self._epoch_marks_dir, name)
                    )
                    for qid, epoch in marks.items():
                        out[qid] = max(out.get(qid, -1), int(epoch))
            except FileNotFoundError:
                continue  # superseded mid-scan: rescan with a fresh listing
            return out
        raise RuntimeError(
            f"epoch_marks scan at {self._epoch_marks_dir} lost the "
            "supersede race 20 times; marker sidecar under pathological "
            "expiry contention"
        )

    def _carry_forward_epoch_marks(self, drop: list[dict[str, Any]]) -> None:
        """Persist the max epoch marker per query_id found in the
        summaries about to be expired, BEFORE any manifest is deleted.
        Append-only with merge-and-supersede: the new file dominates the
        old ones, which are then removed best-effort — a crash in
        between leaves dominated duplicates the reader maxes over."""
        marks: dict[str, int] = {}
        for s in drop:
            summ = s.get("summary") or {}
            qid = summ.get("sink_query_id")
            if qid is not None:
                marks[str(qid)] = max(
                    marks.get(str(qid), -1),
                    int(summ.get("sink_epoch_id", -1)),
                )
        if not marks:
            return
        # capture the sidecar file list ONCE and merge exactly those
        # files: a rival expiry's mark file landing after this capture
        # is neither merged NOR deleted, so its floors survive it —
        # supersede-then-delete stays lost-update-free
        os.makedirs(self._epoch_marks_dir, exist_ok=True)
        old = [
            os.path.join(self._epoch_marks_dir, n)
            for n in sorted(os.listdir(self._epoch_marks_dir))
            if n.endswith(".json")
        ]
        merged = dict(marks)
        for path in old:
            try:
                prior = read_json_meta(path)
            except FileNotFoundError:
                continue  # superseded by a concurrent expiry
            for qid, epoch in prior.items():
                merged[qid] = max(merged.get(qid, -1), int(epoch))
        write_json_meta(
            os.path.join(
                self._epoch_marks_dir, f"marks-{uuid.uuid4().hex[:12]}.json"
            ),
            merged,
        )
        for path in old:
            try:
                os.remove(path)
            except OSError:
                pass

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop old snapshots and delete data files no longer referenced.

        Tagged snapshots are GC ROOTS: they survive expiry however old
        (Iceberg's tag retention), together with every file they
        reference. Drop the tag first to let them expire.

        Exactly-once epoch markers riding in expired summaries are
        carried forward into ``epoch_marks/`` first (see
        :meth:`sink_epoch_floors`), so expiry can never re-open a
        replayed epoch to double-application."""
        snaps = self._snapshots()
        if len(snaps) <= keep_last:
            return 0
        tagged = set(self.tags().values())
        keep = snaps[-keep_last:] + [
            s for s in snaps[:-keep_last] if s["version"] in tagged
        ]
        drop = [s for s in snaps[:-keep_last] if s["version"] not in tagged]
        self._carry_forward_epoch_marks(drop)
        referenced = {rel for s in keep for rel in s["files"]}
        referenced |= {
            d["file"] for s in keep for d in s.get("delete_files") or []
        }
        referenced |= self._external_snapshot_files()  # cross-timeline refs
        removed = 0
        for s in drop:
            dead = list(s["files"]) + [
                d["file"] for d in s.get("delete_files") or []
            ]
            for rel in dead:
                if rel not in referenced:
                    path = os.path.join(self.root, rel)
                    if os.path.exists(path):
                        os.remove(path)
                        removed += 1
            os.remove(self._snapshot_path(s["version"]))
        return removed

    def drop(self, purge: bool = True) -> None:
        """DROP TABLE [PURGE] (reference M9, pyspark_functions.py:348-355)."""
        if purge and os.path.isdir(self.root):
            shutil.rmtree(self.root)


class BranchTable(SnapshotTable):
    """A writable branch of a :class:`SnapshotTable`: same root and
    SHARED data directory, private snapshot log + VERSION pointer under
    ``branches/<name>/``. Every inherited operation (append, merge in
    both modes, compact, schema/partition evolution, time travel,
    read_where, expiry, orphan GC) works against the branch timeline
    unchanged, because all state access funnels through ``_snap_dir`` /
    ``_version_file``. Tags are main-timeline refs — create them after
    :meth:`SnapshotTable.fast_forward` publishes the branch."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        super().__init__(spark, root)
        self.name = name

    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.root, "branches", self.name, "snapshots")

    def _version_file(self) -> str:
        return os.path.join(self.root, "branches", self.name, "VERSION")

    def create_tag(self, name: str, version: int | None = None) -> int:
        raise ValueError(
            "tags are main-timeline refs: fast_forward the branch, then tag"
        )

    def drop(self, purge: bool = True) -> None:
        raise ValueError(
            "refusing to drop the shared table root through a branch handle; "
            "use drop_branch() on the main table to abandon this branch"
        )
