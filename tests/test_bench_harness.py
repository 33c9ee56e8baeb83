"""bench.py as the one harness: a named-query run records, per query,
the rep times, the Spark job/stage/task counts (construction-time jobs
included) and the executed-plan metrics, writes ``--explain`` plans,
and leaves no round artifact in the repo root."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from ex9_big_data_gal_drimer_spark.plans.registry import ITERATIVE_CONSTRUCTION

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
NAMES = ("hotels_q1", "dedup_connected_components")
PLAN_FIELDS = (
    "n_exchanges",
    "shuffle_bytes",
    "shuffle_records",
    "spill_bytes",
    "broadcast_bytes",
    "scan_rows",
)


@pytest.fixture(scope="module")
def run(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bench")
    before = set(glob.glob(os.path.join(ROOT, "BENCH_FULL_r*")))
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_OUT": str(tmp / "out.json"),
        "SPARK_DRIVER_MEMORY": "2g",
    }
    proc = subprocess.run(
        [sys.executable, "bench.py", *NAMES, "--explain", str(tmp / "plans")],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    after = set(glob.glob(os.path.join(ROOT, "BENCH_FULL_r*")))
    with open(tmp / "out.json") as fh:
        full = json.load(fh)
    return tmp, proc.stdout, full, after - before


def test_records_carry_job_counts_and_plan_metrics(run):
    _, _, full, _ = run
    assert sorted(full["queries"]) == sorted(NAMES)
    for name in NAMES:
        rec = full["records"][name]
        assert rec["jobs"] >= 1 and rec["tasks"] >= 1 and rec["stages"] >= 1
        assert rec["min_s"] <= rec["median_s"] <= rec["max_s"]
        assert rec["median_s"] == full["queries"][name]
        for field in PLAN_FIELDS:
            assert isinstance(rec[field], int) and rec[field] >= 0, field
    assert full["records"]["hotels_q1"]["n_exchanges"] >= 1


def test_construction_time_jobs_are_counted(run):
    _, _, full, _ = run
    assert "dedup_connected_components" in ITERATIVE_CONSTRUCTION
    recs = full["records"]
    assert recs["dedup_connected_components"]["jobs"] > recs["hotels_q1"]["jobs"]


def test_explain_files_and_no_round_artifact(run):
    tmp, stdout, _, new_root_files = run
    for name in NAMES:
        text = (tmp / "plans" / f"{name}.txt").read_text()
        assert "== Physical Plan ==" in text
    assert not new_root_files
    compact = json.loads(stdout.strip().splitlines()[-1])
    assert sorted(compact) == sorted(
        ["metric", "value", "unit", "queries", "sf", "setup_seconds",
         "n_queries", "full"]
    )
    assert compact["n_queries"] == len(NAMES)
    assert compact["full"] == "out.json"
