"""The driver contract for bench.py: the FINAL stdout line is one SHORT
JSON object (<200 bytes — the driver's tail window truncates long lines)
with metric/value/unit/sf and ok/failed counts; the full per-query map
goes to BENCH_DETAIL.json. Runs as a subprocess at sf0.001 exactly as
the driver would."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _smoke_subset() -> list[str]:
    """Deterministic ~21-query slice spanning every family (every 7th of
    the sorted registry): enough to exercise the full output contract
    (one JSON line, complete detail map, verify_split entries) without
    the 141-query cost that blew the driver's pytest budget in r11."""
    from iceberg_evaluation_spark.plans import REGISTRY

    return sorted(REGISTRY)[::7]


def test_query_subset_entries_are_stripped():
    """``"q1, q2"`` names the same queries as ``"q1,q2"``; a typo still
    fails instead of silently shrinking the run."""
    import pytest

    sys.path.insert(0, REPO)
    from bench import query_names
    from iceberg_evaluation_spark.plans import REGISTRY

    picked = _smoke_subset()[:3]
    assert query_names(", ".join(picked), REGISTRY) == sorted(picked)
    assert query_names(" , ".join(picked) + ", ", REGISTRY) == sorted(picked)
    assert query_names(None, REGISTRY) == sorted(REGISTRY)
    with pytest.raises(SystemExit, match="nope"):
        query_names(f"{picked[0]}, nope", REGISTRY)


def test_bench_final_line_is_short_and_detail_file_is_complete():
    # ITERS=1 + smoke subset (r11 verdict #1): this test checks the
    # OUTPUT CONTRACT (one short JSON line, complete per-query detail
    # file), not timing methodology or corpus coverage — every assertion
    # is iteration-count- and subset-independent. The full 141-query
    # subprocess (9:35 solo even at ITERS=1) exceeded the driver's
    # pytest budget in r11 (VERIFY tests_ok: false); set
    # SPARK_GRAFT_FULL_BENCH_CONTRACT=1 to run the whole corpus.
    full = os.environ.get("SPARK_GRAFT_FULL_BENCH_CONTRACT") == "1"
    expected = None if full else _smoke_subset()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_ITERS="1",
    )
    if expected is not None:
        env["SPARK_GRAFT_QUERY_SUBSET"] = ",".join(expected)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=1800,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"expected ONE stdout line, got {len(lines)}"
    assert len(lines[0]) < 200, f"final line too long ({len(lines[0])} bytes)"
    d = json.loads(lines[0])
    assert d["metric"] == "corpus_total_wall"
    assert d["unit"] == "sec"
    assert isinstance(d["value"], (int, float)) and d["value"] > 0
    assert d["sf"] == "0.001"
    assert d["n_failed"] == 0

    from iceberg_evaluation_spark.plans import REGISTRY

    # r8: a run whose label differs from the committed canonical
    # artifact's diverts to a label-suffixed sidecar (clobber guard) —
    # read whichever file THIS run wrote (the note names it on stderr)
    import re

    detail_file = os.path.join(REPO, "BENCH_DETAIL.json")
    m = re.search(r" run to (\S*BENCH_DETAIL\.\S+\.json) \(", proc.stderr)
    if m:
        detail_file = m.group(1)
    with open(detail_file) as f:
        detail = json.load(f)
    assert set(detail["queries"]) == set(expected or REGISTRY)
    assert all(isinstance(v, (int, float)) for v in detail["queries"].values())
    assert d["n_ok"] == len(detail["queries"])
    assert "failed" not in detail, detail.get("failed")
