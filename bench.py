#!/usr/bin/env python
"""Benchmark entry point (driver contract).

Runs the headline query inventory at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``. The FINAL stdout
line is one SHORT JSON object (<200 bytes — the driver's tail window
truncated round 1's 2.5 KB per-query line to ``parsed: null``); the full
per-query breakdown goes to ``BENCH_DETAIL.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def query_names(subset_env: str | None, registry) -> list[str]:
    """The queries to run: every registered one, or the comma-separated
    ``SPARK_GRAFT_QUERY_SUBSET`` (r11 verdict #1: lets the bench-contract
    test exercise the full output contract on a smoke subset instead of
    all 141 queries). Unset (the driver's invocation) = full corpus;
    entries are stripped (``"q1, q2"``), and unknown names are an error
    so a typo can't silently shrink a run."""
    if not subset_env:
        return sorted(registry)
    subset = {s.strip() for s in subset_env.split(",") if s.strip()}
    unknown = sorted(subset - set(registry))
    if unknown:
        raise SystemExit(f"unknown queries in SPARK_GRAFT_QUERY_SUBSET: {unknown}")
    return sorted(subset)


def main() -> None:
    # ambient-contention context for round-over-round adjudication (r10
    # verdict #4): a creeping per-query time on a loaded machine is
    # noise, not regression — record the load so the artifact can say so
    load_before = os.getloadavg()

    def _steal_jiffies() -> int | None:
        # hypervisor CPU-steal counter (jiffy total across all vCPUs):
        # measured r11, steal bursts of 12-20%/5s on this host inflate
        # barrier-style stages 3-6x (every stage waits for its slowest
        # task, so a stalled vCPU taxes ~200 stages per query). loadavg
        # cannot see host steal; the before/after delta makes ambient
        # adjudication mechanical.
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except (OSError, IndexError, ValueError):
            return None

    steal_before = _steal_jiffies()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # --threads N (or SPARK_GRAFT_THREADS): concurrent-query harness shape
    # (the reference benches one thread per query). Sequential remains the
    # default — clean per-query wall times for BENCH_DETAIL.
    threads = int(os.environ.get("SPARK_GRAFT_THREADS", "1"))
    # median-of-N per query (default 3): single-run totals carried ±40%
    # ambient swing between rounds; medians make the deltas signal.
    # SPARK_GRAFT_ITERS=1 restores the quick single-pass shape.
    iters = int(os.environ.get("SPARK_GRAFT_ITERS", "3"))
    argv = sys.argv[1:]
    if "--threads" in argv:
        threads = int(argv[argv.index("--threads") + 1])
    if "--iters" in argv:
        iters = int(argv[argv.index("--iters") + 1])

    from iceberg_evaluation_spark.plans import REGISTRY
    from iceberg_evaluation_spark.plans.runner import run_benchmark
    from iceberg_evaluation_spark.session import get_spark

    names = query_names(os.environ.get("SPARK_GRAFT_QUERY_SUBSET"), REGISTRY)
    extra = {"spark.scheduler.mode": "FAIR"} if threads > 1 else None
    spark = get_spark(app_name="bench", extra_conf=extra)
    # one trivial action per table: absorbs JVM/JIT/codegen warmup and
    # file-index setup so the first measured query isn't charged for it
    from iceberg_evaluation_spark.sources import TABLES, load_table

    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    stats = run_benchmark(
        spark,
        sf_dir,
        names=names,
        iterations=iters,
        warmup=False,
        collect_rows=False,
        max_workers=threads,
    )

    queries = {}
    failed = {}
    verify_split = {}
    runs = {}
    for name, s in stats.items():
        if s.error:
            failed[name] = s.error
            continue
        queries[name] = round(s.median_s, 3)
        runs[name] = [round(x, 3) for x in s.runs_s]
        if s.bare_s:
            # registered query = operator + in-query verification harness
            # (planted-corpus doubling, exact recount twins — or, q84,
            # the streaming replay-dir write); run_s is the production
            # operator alone, verify_s the harness overhead
            run_s = round(s.median_bare_s, 3)
            verify_split[name] = {
                "run_s": run_s,
                "verify_s": round(max(s.median_s - run_s, 0.0), 3),
            }
    total = round(sum(queries.values()), 3)
    verify_total = round(sum(v["verify_s"] for v in verify_split.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Provenance (r6 verdict #2): BENCH_DETAIL is written by BOTH the
    # driver's per-round snapshot and builder refreshes, at whatever sf
    # the environment selected — two rounds of round-over-round analysis
    # compared an sf0.001 artifact against sf0.1 runs because nothing
    # labeled the invocation. Every artifact now records who/where/when;
    # comparisons must be sf-matched (rule stated in BENCH_NOTES.md).
    import datetime as _dt

    invocation = {
        "label": os.environ.get("SPARK_GRAFT_INVOCATION", "default"),
        "sf_dir": sf_dir,
        "iters": iters,
        "threads": threads,
        "utc": _dt.datetime.now(_dt.timezone.utc).isoformat(
            timespec="seconds"
        ),
        # 1/5/15-min load BEFORE and AFTER the run: the mechanical
        # receipt for "ambient contention" adjudications (tools/
        # bench_ab.py is the per-query A/B half of the same story)
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    steal_after = _steal_jiffies()
    if steal_before is not None and steal_after is not None:
        # jiffies of vCPU time stolen by the host during the run —
        # compare against elapsed wall x HZ x nCPU for a stolen-share
        invocation["steal_jiffies"] = steal_after - steal_before
    detail = {
        "metric": "corpus_total_wall",
        "value": total,
        "unit": "sec",
        # per-query MEDIAN of `iters` runs; raw runs under "runs"
        "queries": queries,
        "iterations": iters,
        "runs": runs,
        "sf": sf,
        "invocation": invocation,
        # operator-only view: total with verification harness cost removed
        "verify_split": verify_split,
        "operator_total": round(total - verify_total, 3),
    }
    if threads > 1:
        detail["threads"] = threads
    if failed:
        detail["failed"] = failed
    # Artifact discipline (r7 verdict #7): BENCH_DETAIL.json is the
    # CANONICAL artifact of one invocation family. A run under a
    # DIFFERENT label (e.g. the driver's post-round default-label
    # snapshot landing on top of a committed builder-canonical run)
    # diverts to a label-suffixed sidecar instead of clobbering it;
    # --force restores the old clobbering behavior when a family change
    # is intended.
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    if os.path.exists(detail_path) and "--force" not in argv:
        try:
            with open(detail_path) as f:
                prev_label = (json.load(f).get("invocation") or {}).get(
                    "label"
                )
        except (OSError, ValueError):
            prev_label = None
        if prev_label is not None and prev_label != invocation["label"]:
            safe = "".join(
                c if c.isalnum() or c in "-_." else "_"
                for c in invocation["label"]
            )
            detail_path = os.path.join(repo, f"BENCH_DETAIL.{safe}.json")
            print(
                f"BENCH_DETAIL.json belongs to invocation {prev_label!r}; "
                f"writing this {invocation['label']!r} run to {detail_path} "
                "(pass --force to replace the canonical artifact)",
                file=sys.stderr,
            )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # final line stays tiny so the driver's tail window can parse it
    print(
        json.dumps(
            {
                "metric": "corpus_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_ok": len(queries),
                "n_failed": len(failed),
            }
        )
    )
    # stateful streaming queries (sessionize, stream-stream join) leave
    # the StateStore maintenance executor scheduled; after spark.stop()
    # its next tick stack-traces "SparkEnv not active" into the bench
    # tail, burying real failures (r8 verdict #8). Stop it FIRST — a
    # public object method, no-op when no stateful query ever ran.
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # JVM already gone or class shape changed: nothing to silence
    spark.stop()


if __name__ == "__main__":
    main()
