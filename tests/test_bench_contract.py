"""The driver consumes bench.py's output: exactly one parseable JSON line
with the agreed keys.  This test runs the real harness at sf0.001 in a
subprocess (fresh JVM, like the driver does) and validates the contract —
the round-2/3 failure mode was precisely a bench that crashed before
emitting its line."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_emits_one_json_line_and_contract():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(REPO),
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [
        l for l in proc.stdout.splitlines() if l.startswith("{") and l.endswith("}")
    ]
    assert len(json_lines) == 1, proc.stdout[-2000:]
    payload = json.loads(json_lines[0])
    assert payload["metric"] == "headline_query_set_wall_seconds"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert set(payload["queries"]) >= {
        "tpch_q1_pricing",
        "range_join_recent_events",
        "dedup_minhash_lsh",
        "etl_pipeline_1m",
    }
    assert all(v >= 0 for v in payload["queries"].values())
    assert abs(sum(payload["queries"].values()) - payload["value"]) < 0.01
    # r14 (VERDICT r13 item 2): the stdout line must stay small enough to
    # survive bounded log capture — r12's stored tail was truncated before
    # the line start and the driver lost every prev-round number.
    assert len(json_lines[0]) < 1024, len(json_lines[0])
    # methodology transparency (ADVICE r4, re-based by VERDICT r8 order
    # #1) moved to a BENCH_DETAIL JSON line on stderr: the headline is MIN
    # of the warm runs 2-5 (the r8 run array falsified the median-of-3-5
    # steady-state assumption — the host throttles mid-array); cold run
    # and the old median still ship there
    detail_lines = [
        l for l in proc.stderr.splitlines() if l.startswith("BENCH_DETAIL ")
    ]
    assert len(detail_lines) == 1, proc.stderr[-2000:]
    detail = json.loads(detail_lines[0][len("BENCH_DETAIL "):])
    runs = detail["etl_pipeline_1m_runs"]
    assert len(runs) == 5 and detail["etl_pipeline_1m_cold"] == runs[0]
    assert payload["queries"]["etl_pipeline_1m"] == min(runs[1:])
    assert detail["etl_pipeline_1m_median35"] == sorted(runs[2:])[1]
    assert "MIN of warm runs" in detail["methodology"]
    # cross-checkout comparison lives in perfbench, not here
    assert "ab" not in detail and "ab_ratio" not in proc.stdout + detail_lines[0]

