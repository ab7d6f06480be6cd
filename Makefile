# One-command gate (r4 verdict #9): claim audits + the full test suite.
# Round snapshots must not ship with any of these red.
#   make check        audits + pytest (incl. the benchmark's oracle self-tests)
#   make audit        OPERATORS.md claim audits only (fast)
#   make oracle       local stand-in for the driver's DuckDB correctness gate
.PHONY: check audit oracle
audit:
	python tools/checkoracle.py --audit
check: audit
	python -m pytest tests/ -q
	python -m pytest perfbench/test_perfbench.py -q
oracle:
	python tools/checkoracle.py /root/testdata/sf0.01
