#!/usr/bin/env python3
"""The engine's benchmark of record.

    python3 perfbench/run.py --workload derive|curate --seed N --seconds S --trace 0|1

Run from the repository root. Generates the inputs from ``--seed`` under
``.perfbench/`` in the working directory, runs one workload in a closed
loop for at least ``--seconds`` (whole passes or cycles, so every run does
the same mix), checks every result, removes its scratch and prints two
JSON lines: a detail object (workload metrics by name, input manifest,
ambient receipts, failures) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's entry points in
spans, turns on the Spark event log and reports the per-layer metrics.
Exits 1 if any operation failed or returned a wrong result, 2 if the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Scale of the generated inputs (lineitem = 6M x sf rows). Fixed
# per-operation Spark costs dominate at these sizes, as they do at sf0.1,
# and one run has to fit in about a minute.
DERIVE_SF = 0.001
CURATE_SF = 0.005
SETUPS = 3  # set-ups per run; setup_s is their median

OP_KINDS = ("query", "bulk_load", "merge", "restate", "read", "compact")

# Reported with --trace 0. The loop's speed (ops_per_s, cpu_s_per_op,
# op_p50_s) is in the detail line only: on a shared 4-vCPU VM it drifts by
# up to 0.23 IQR/median between sets of ten runs, too close to the largest
# bound a gated metric may have.
E2E = {"setup_s": "s", "space_amp": "ratio"}  # name -> unit


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["derive", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale (default per workload)")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="drop one row from one result, to prove the checks catch it",
    )
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin cores, driver memory and fresh scratch roots through the engine's
    own environment variables; no engine file or default changes."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{min(2048, phys_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in /tmp: every file a run writes stays under `work`
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def ambient() -> dict:
    """Load average and hypervisor steal jiffies, as bench.py records them."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        steal = None
    return {"loadavg": list(os.getloadavg()), "steal_jiffies": steal, "t": time.time()}


class Session:
    """Starts, restarts and finally stops the engine's SparkSession and its JVM."""

    def __init__(self, work: str, trace: bool):
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
        self.events = None
        if trace:
            self.events = os.path.join(work, "events")
            os.makedirs(self.events)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
            })
        self.spark = None

    def start(self) -> float:
        from iceberg_evaluation_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        return time.time() - t0

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss_kb += int(line.split()[1])
        return rss_kb / 1024

    def cpu_seconds(self) -> float:
        """User plus system CPU time of the driver JVM and this process so far."""
        from pyspark import SparkContext

        t = os.times()
        total = t.user + t.system
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return total

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - never leave the JVM behind
                    proc.kill()
                    proc.wait()


def run_workload(args, work: str) -> dict:
    import datagen
    import workloads as wl
    from spans import Recorder, install_wrappers, job_intervals

    out: dict = {"setups_s": [], "session_start_s": []}
    marks = [time.time()]
    data_dir = os.path.join(work, "data")
    sf = args.sf or (DERIVE_SF if args.workload == "derive" else CURATE_SF)
    star = datagen.star_schema(sf, args.seed)
    if args.workload == "curate":
        star = {"lineitem": star["lineitem"]}
    rows = datagen.write_tables(star, data_dir)
    marks.append(time.time())

    sess = Session(work, bool(args.trace))
    rec = Recorder(cpu_clock=sess.cpu_seconds)
    if args.trace:
        install_wrappers(rec)
    ctx = wl.Context(
        spark=None, rec=rec, repo=REPO, data_dir=data_dir, seed=args.seed,
        seconds=args.seconds, clients=1, corrupt=args.corrupt,
    )
    ctx.manifest.update(sf=sf, table_rows=rows)
    oracle: dict = {}
    oracle_thread = None
    try:
        if args.workload == "derive":
            ctx.clients = len(os.sched_getaffinity(0))
            names = wl.star_query_files(REPO)
            # the DuckDB oracle runs beside session start-up; it is not set-up
            oracle_thread = threading.Thread(
                target=lambda: oracle.update(wl.oracle_hashes(data_dir, names))
            )
            oracle_thread.start()
        else:
            cur = wl.CurateInputs(star["lineitem"], args.seed, os.path.join(work, "inputs"))
        setup = None
        for i in range(SETUPS):
            t0 = time.time()
            out["session_start_s"].append(sess.start())
            ctx.spark = sess.spark
            if args.trace:
                rec.sc = sess.spark.sparkContext
            root = os.path.join(work, f"tables-{i}")
            if args.workload == "derive":
                setup = wl.derive_setup(ctx, root)
            else:
                setup = wl.curate_setup(ctx, root, cur)
            out["setups_s"].append(time.time() - t0)
        marks.append(time.time())
        if args.workload == "derive":
            wl.derive_warmup(ctx)
        else:
            wl.curate_warmup(ctx, cur, os.path.join(work, "warmup"))
        marks.append(time.time())
        if oracle_thread is not None:
            oracle_thread.join()
            if len(oracle) != len(names):
                raise RuntimeError("the DuckDB oracle did not cover every query")
        t0, cpu0 = time.time(), sess.cpu_seconds()
        if args.workload == "derive":
            ctx.layer["live_files"] = setup["live_files"]
            wl.derive_run(ctx, oracle)
        else:
            wl.curate_run(ctx, setup, cur)
        out["measured_s"] = time.time() - t0
        out["measured_cpu_s"] = sess.cpu_seconds() - cpu0
        if args.workload == "curate":
            wl.verify_snapshots(ctx, setup["table"])
        ctx.detail["space_amp"] = wl.space_amp(setup["tables"])
        out["peak_rss_mb"] = sess.peak_rss_mb()
        marks.append(time.time())
    finally:
        if oracle_thread is not None:
            oracle_thread.join()
        sess.stop()
    marks.append(time.time())
    out["phases_s"] = dict(
        zip(("prepare", "setup", "warmup", "measure", "finish"), [b - a for a, b in zip(marks, marks[1:])])
    )
    out["ctx"] = ctx
    out["jobs"] = {}
    if sess.events:  # the event logs are complete once every context has stopped
        for d, _, files in os.walk(sess.events):
            for name in sorted(files):
                for g, iv in job_intervals(os.path.join(d, name)).items():
                    out["jobs"].setdefault(g, []).extend(iv)
    return out


def measured_ops(out: dict) -> list:
    """The operations of the measured loop (set-up's bulk loads excluded)."""
    return [o for o in out["ctx"].rec.ops if o.kind != "bulk_load"]


def e2e_metrics(out: dict) -> dict:
    return {
        "setup_s": statistics.median(out["setups_s"]),
        "space_amp": out["ctx"].detail["space_amp"],
    }


def detail_metrics(workload: str, out: dict) -> dict:
    """The workload's own metrics, named as the workload describes them."""
    ctx = out["ctx"]
    d = ctx.detail
    ops = ctx.rec.ops
    bulk = [o.seconds for o in ops if o.kind == "bulk_load"]
    loop = measured_ops(out)
    m = {**e2e_metrics(out),
         "ops_per_s": len(loop) / out["measured_s"],
         "cpu_s_per_op": out["measured_cpu_s"] / len(loop),
         "op_p50_s": statistics.median(o.seconds for o in loop),
         "cold_setup_s": out["setups_s"][0],
         "bulk_load_p50_s": statistics.median(bulk),
         "peak_rss_mb": out["peak_rss_mb"],
         "error_rate": sum(not o.ok for o in ops) / len(ops)}
    if workload == "derive":
        m.update({k: d[k] for k in ("queries_per_s", "query_p50_s", "query_p90_s")})
    else:
        m.update(
            bulk_load_rows_per_s=d["rows"] / statistics.median(bulk),
            merge_p50_s=statistics.median(d["merge_s"]),
            restate_s=d["restate_s"],
            read_after_write_s=statistics.median(d["read_s"]),
            compact_s=d["compact_s"],
        )
    return m


def op_times(out: dict) -> dict:
    """Per operation type: [wall seconds, CPU seconds] of each measured operation."""
    by_kind: dict[str, list] = {}
    for o in measured_ops(out):
        by_kind.setdefault(o.kind, []).append([round(o.seconds, 3), round(o.cpu_s, 3)])
    return by_kind


def layer_metrics(out: dict) -> dict:
    from spans import self_times, union_seconds

    ctx = out["ctx"]
    rec = ctx.rec
    st = self_times(rec.spans)
    dur: dict[str, list[float]] = {}
    own: dict[str, list[float]] = {}
    for s in rec.spans:
        dur.setdefault(s.name, []).append(s.end - s.start)
        own.setdefault(s.name, []).append(st[s.span_id])

    def mean(xs):
        return statistics.mean(xs) if xs else 0.0

    merges = ctx.layer.get("merges", [])
    cand = sum(x["candidates"] for x in merges)
    changed = sum(x["changed_rows"] for x in merges)
    m = {
        "session.start_s": statistics.median(out["session_start_s"]),
        "sources.load_s": mean(dur.get("sources.load", [])),
        "plans.analyze_s": mean(dur.get("plans.sql", [])),
        "plans.execute_s": mean(dur.get("plans.execute", [])),
        "tables.read_s": mean(dur.get("tables.read", []) + dur.get("tables.read_where", [])),
        "tables.live_files": ctx.layer.get("live_files", 0),
        "tables.create_s": mean(dur.get("tables.create_or_replace", [])),
        "tables.merge_s": mean(dur.get("tables.merge", [])),
        "tables.discovery_candidates": mean([x["candidates"] for x in merges]),
        "tables.rewritten_files": mean([x["rewritten"] for x in merges]),
        "tables.rewrite_precision": (
            sum(x["rewritten"] for x in merges) / cand if cand else 0.0
        ),
        "tables.rows_written_per_changed_row": (
            sum(x["rows_written"] for x in merges) / changed if changed else 0.0
        ),
        "tables.bytes_written": mean([x["bytes_written"] for x in merges]),
        "tables.compact_s": mean(dur.get("tables.compact", [])),
        "tables.compact_files_in": ctx.layer.get("compact_files_in", 0),
        "tables.compact_files_out": ctx.layer.get("compact_files_out", 0),
        "operators.scd2.self_s": mean(own.get("operators.scd2.scd2_complex", [])),
        "operators.scd2.source_rows": max([x["source_rows"] for x in merges], default=0),
    }
    jobs = out["jobs"]
    for kind in OP_KINDS:
        ops = [o for o in rec.ops if o.kind == kind]
        n = max(len(ops), 1)
        for c in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"spark.{kind}.{c}"] = sum(o.spark.get(c, 0) for o in ops) / n
        exec_s = [union_seconds(jobs.get(o.op_id, []), o.start, o.end) for o in ops]
        m[f"spark.{kind}.exec_s"] = sum(exec_s) / n
        m[f"spark.{kind}.driver_gap_s"] = sum(o.seconds - e for o, e in zip(ops, exec_s)) / n
    # compare trace.op_p50_s with the untraced run's op_p50_s for the whole overhead
    m["trace.overhead_s"] = rec.overhead_s / len(rec.ops)
    m["trace.op_p50_s"] = statistics.median(o.seconds for o in measured_ops(out))
    return m


def span_accounting(rec) -> dict:
    """Per operation type: root span seconds = self seconds + seconds child spans cover."""
    from spans import self_times

    st = self_times(rec.spans)
    kinds = {o.op_id: o.kind for o in rec.ops}
    out: dict[str, dict] = {}
    for s in rec.spans:
        if s.parent is None and kinds.get(s.op_id) == s.name:
            a = out.setdefault(s.name, {"span_s": 0.0, "self_s": 0.0, "children_s": 0.0})
            a["span_s"] += s.end - s.start
            a["self_s"] += st[s.span_id]
            a["children_s"] += (s.end - s.start) - st[s.span_id]
    return out


LAYER_UNITS = {
    "live_files": "count", "discovery_candidates": "count", "rewritten_files": "count",
    "rewrite_precision": "ratio", "rows_written_per_changed_row": "ratio",
    "bytes_written": "B", "compact_files_in": "count", "compact_files_out": "count",
    "source_rows": "count",
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
}


def layer_unit(name: str) -> str:
    return "s" if name.endswith("_s") else LAYER_UNITS[name.rsplit(".", 1)[1]]


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, REPO]
    try:
        import iceberg_evaluation_spark  # noqa: F401
        import tests.oracle_compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(REPO, "sql")):
        print(f"perfbench: no sql/ directory under {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        before = ambient()
        out = run_workload(args, work)
        after = ambient()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ctx = out["ctx"]
    ops = ctx.rec.ops
    failures = [{"op": o.op_id, "error": o.error} for o in ops if not o.ok]
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer_metrics(out).items()}
        spans_path = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json")
        ctx.rec.write_spans(spans_path)
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e_metrics(out).items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": detail_metrics(args.workload, out),
        "setups_s": out["setups_s"],
        "ops_s": op_times(out),
        "phases_s": out["phases_s"],
        "manifest": ctx.manifest,
        "environment": env,
        "ambient": {"before": before, "after": after},
        "failures": failures,
    }
    if args.trace:
        detail["span_accounting"] = span_accounting(ctx.rec)
        detail["spans_file"] = spans_path
    print(json.dumps(detail, default=str))
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
