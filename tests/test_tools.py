"""tools/: the OPERATORS.md claim audits (tools/checkoracle.py) and the
report renders of the bench-leg harness (tools/pairstage.py). Spark-free."""

import glob
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import checkoracle  # noqa: E402
import pairstage  # noqa: E402


def test_operators_md_claims_resolve():
    """Every 'DuckDB ✅ (`key`...)' claim in OPERATORS.md names a query
    registered in both QUERIES and ORACLES (r3 shipped a claim for a
    nonexistent dedup_image_phash query), every backticked `test_*`
    name it cites is a test function or module under tests/ or
    perfbench/, and every backticked tools/, rgm/ or BENCH/ path it cites
    (with any symbol named after it) exists."""
    assert checkoracle.audit_claims() == []
    assert checkoracle.audit_test_citations() == []
    assert checkoracle.audit_path_citations() == []
    # and the r4 fix itself is registered
    from rgm import benchqueries as bq

    assert "dedup_image_phash" in bq.QUERIES and "dedup_image_phash" in bq.ORACLES


def test_operators_md_numeric_claims_resolve():
    """Every efficiency-like number OPERATORS.md quotes against a BENCH
    report must literally appear in that report (the r4 stale-0.826
    lesson, machine-audited)."""
    assert checkoracle.audit_numeric_claims() == []


def test_numeric_claims_match_whole_numbers(tmp_path, monkeypatch):
    """A quoted number passes only on the same whole number in the cited
    report: "0.56" fails on "0.560", and passes on "0.56" at a sentence
    end."""
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "R.md").write_text("pair 0 ratio 0.560; best 0.9.\n")
    monkeypatch.setattr(checkoracle, "ROOT", str(tmp_path))

    def audit(claim):
        monkeypatch.setattr(checkoracle, "_operators_md", lambda: claim)
        return checkoracle.audit_numeric_claims()

    assert audit("probes read 0.56 (`BENCH/R.md`)") == ["0.56 not in ['BENCH/R.md']"]
    assert audit("probes read 0.560 (`BENCH/R.md`)") == []
    (tmp_path / "BENCH" / "R.md").write_text("probes read as low as 0.56.\n")
    assert audit("probes read 0.56 (`BENCH/R.md`)") == []


def test_values_equal_rejects_null_and_dtype_mismatches():
    """The oracle comparison is null- and dtype-sensitive: a null never
    equals a value (not even the string the old fill used), and int32 vs
    int64 columns differ."""
    import pandas as pd

    def eq(a, b):
        return checkoracle._values_equal(pd.DataFrame({"c": a}), pd.DataFrame({"c": b}))

    assert eq(["a", None], ["a", None])
    assert not eq(["a", None], ["a", "\0null"])
    assert not eq(["a", "\0null"], ["a", None])
    assert not eq(pd.Series([1, 2], dtype="int32"), pd.Series([1, 2], dtype="int64"))
    assert eq(pd.Series([1, 2], dtype="int64"), pd.Series([1, 2], dtype="int64"))


@pytest.mark.parametrize(
    "mode, report",
    [
        ("stages", "BASELINE_STAGE.md"),
        ("full", "BASELINE.md"),
        ("points", "FLOORS_2X.md"),
        ("caps", "QUERY_FLOORS.md"),
    ],
)
def test_report_only_renders_committed_report(mode, report, tmp_path, monkeypatch):
    """--report-only renders each committed BENCH report byte for byte
    from the committed logs alone: it measures nothing and writes only
    into the BENCH directory it is pointed at."""
    for log in glob.glob(os.path.join(ROOT, "BENCH", "*.jsonl")):
        shutil.copy(log, tmp_path)
    monkeypatch.setattr(pairstage, "BENCH", str(tmp_path))

    def measured(*args, **kwargs):
        raise AssertionError("--report-only must not measure")

    for name in ("run_leg", "raw_kernel_ceiling", "sustained_image_ceiling"):
        monkeypatch.setattr(pairstage, name, measured)
    committed = os.path.join(ROOT, "BENCH", report)
    mtime = os.stat(committed).st_mtime_ns

    pairstage.main([mode, "--report-only"])

    with open(committed, "rb") as f:
        assert (tmp_path / report).read_bytes() == f.read()
    assert os.stat(committed).st_mtime_ns == mtime
