"""bench.py SPARK_GRAFT_STAGES contract (tools/pairstage.py legs).

A stage-filtered bench leg must (a) time ONLY the requested stage,
(b) build state the stage needs untimed (committed index / images
parquet), and (c) reuse state left by an earlier leg at the same
parallelism level instead of rebuilding it. Runs bench.py as a
subprocess — the exact surface pairstage drives.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
IDX = os.path.join(
    "/tmp", "rgm_bench_idx_" + SF.strip("/").replace("/", "_") + "_c3"
)


def _leg(stages: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF,
        SPARK_GRAFT_CPUS="3",  # a cpu count no other run uses -> fresh state dir
        SPARK_GRAFT_STAGES=stages,
        SPARK_GRAFT_BENCH_IMAGES="500",
        SPARK_GRAFT_BENCH_REGIONS="500",
        SPARK_GRAFT_BENCH_SKEW="0",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the last stdout line is a compact summary a log tail can parse; the
    # full record it names carries rows and build-stage seconds
    last = out.stdout.strip().splitlines()[-1]
    assert len(last.encode()) < 2000
    summary = json.loads(last)
    assert summary["host"]["nproc"] >= 1 and summary["driver_memory"]
    sys.path.insert(0, ROOT)
    from bench import read_record

    record = read_record(out.stdout)
    assert record["queries"] == summary["queries"]
    return record


def test_stage_filtered_legs_time_only_requested_and_reuse_state():
    for p in (IDX, IDX + "_regions", IDX + "_images", IDX + "_images_500"):
        shutil.rmtree(p, ignore_errors=True)

    # leg 1: fresh timed index build leaves committed state behind
    r1 = _leg("index_build")
    assert set(r1["queries"]) == {"index_build"}
    assert r1["rows"]["index_build"] > 0
    assert os.path.exists(os.path.join(IDX, "_manifest.json"))

    # leg 2: a query stage reuses that state (no rebuild: the leg's only
    # timed entry is the query, and the wall is far below a build)
    r2 = _leg("contains_2000_caps")
    assert set(r2["queries"]) == {"contains_2000_caps"}

    # leg 3: fidelity with no synth stage requested builds the images
    # parquet untimed, then times only fidelity
    r3 = _leg("images_fidelity")
    assert set(r3["queries"]) == {"images_fidelity"}
    assert r3["rows"]["images_fidelity"] == 500
    # the images state dir carries the scale config in its name, so a leg
    # at a different SPARK_GRAFT_BENCH_IMAGES can never reuse this table
    assert os.path.exists(os.path.join(IDX + "_images_500", "_SUCCESS"))

    # leg 4: a timed build leg reports per-build-stage seconds (the N->4N
    # attribution pairstage consumes)
    assert set(r1.get("build_stages", {})) == {"index_build"}
    assert set(r1["build_stages"]["index_build"]) >= {"covers", "keys", "pairs", "postings"}


def test_eff_cell_keeps_zero_times_and_guards_zero_divisor():
    """The floors reports' efficiency cell: a recorded 0.0 s stage time is
    an efficiency, not a missing leg, and a 0 s 4N leg renders as missing
    instead of raising ZeroDivisionError."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from pairstage import eff_cell

    assert eff_cell(0.0, 2.0) == "0.000"
    assert eff_cell(2.0, 0.5) == "1.000"
    assert eff_cell(1.0, 0.0) == "—"
    assert eff_cell(None, 1.0) == "—" and eff_cell(1.0, None) == "—"
