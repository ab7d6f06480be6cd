"""Local stand-in for the driver's correctness gate: run every queries()
entry at a given sf and diff against its oracle_sql() in DuckDB
(row count + sorted-by-name columns + order-insensitive value multiset).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# every "DuckDB ✅ (`key`...)" claim in OPERATORS.md names a driver query
import re

_CLAIM_RE = re.compile(r"DuckDB ✅ \(`([a-z0-9_]+)`")


def audit_claims() -> list[str]:
    """OPERATORS.md is the judge-facing contract: any 'DuckDB ✅' claim
    that names a query key in backticks must point at a key registered in
    BOTH bq.QUERIES and bq.ORACLES (r3 shipped a ✅ for a
    `dedup_image_phash` query that did not exist — this check makes that
    class of overclaim impossible to commit silently; also run by
    tests/test_training_ops.py). Returns the bad keys."""
    from rgm import benchqueries as bq

    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        text = f.read()
    claimed = _CLAIM_RE.findall(text)
    return sorted(
        k for k in claimed if k not in bq.QUERIES or k not in bq.ORACLES
    )


_BENCH_FILE_RE = re.compile(r"`?(BENCH/[A-Za-z0-9_./-]+\.md)`?")
_NUM_RE = re.compile(r"(?<![\d.])([01]\.\d{2,3})(?![\d])")


def audit_numeric_claims() -> list[str]:
    """Numbers quoted against BENCH files must exist in those files (the
    r4 verdict found OPERATORS.md quoting an interim 0.826 composite that
    later reps had eroded to 0.755 in the cited report). For every
    blank-line-separated paragraph of OPERATORS.md that cites one or more
    `BENCH/*.md` files, every efficiency-like decimal (0.xx / 0.xxx /
    1.xx) in the paragraph must appear as a substring of at least one
    cited file. Returns 'number (files...)' offenders."""
    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        text = f.read()
    bad = []
    for para in text.split("\n\n"):
        files = sorted(set(_BENCH_FILE_RE.findall(para)))
        if not files:
            continue
        contents = []
        for fn in files:
            p = os.path.join(ROOT, fn)
            if os.path.exists(p):
                with open(p) as fh:
                    contents.append(fh.read())
            else:
                bad.append(f"cited file missing: {fn}")
        for num in _NUM_RE.findall(para):
            if not any(num in c for c in contents):
                bad.append(f"{num} not in {files}")
    return bad


_TEST_NAME_RE = re.compile(r"\btest_\w+")
_TEST_DEF_RE = re.compile(r"^def (test_\w+)", re.M)


def audit_test_citations() -> list[str]:
    """Every `test_*` name OPERATORS.md cites inside backticks must be a
    test function or a test module under tests/ or perfbench/, so a
    renamed or deleted test cannot leave a claim pointing at nothing.
    Returns the names that resolve to neither."""
    import glob

    known = set()
    for d in ("tests", "perfbench"):
        for fn in glob.glob(os.path.join(ROOT, d, "test_*.py")):
            known.add(os.path.basename(fn)[:-3])
            with open(fn) as fh:
                known.update(_TEST_DEF_RE.findall(fh.read()))
    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        spans = re.findall(r"`([^`\n]*)`", f.read())
    cited = {n for s in spans for n in _TEST_NAME_RE.findall(s)}
    return sorted(cited - known)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    bad = audit_claims()
    if bad:
        print(f"FAIL  OPERATORS.md claims oracles that do not exist: {bad}")
        return 1
    print("ok    OPERATORS.md oracle claims all resolve to registered queries")
    badnum = audit_numeric_claims()
    if badnum:
        print(f"FAIL  OPERATORS.md quotes numbers absent from the cited BENCH files: {badnum}")
        return 1
    print("ok    OPERATORS.md BENCH-cited numbers all present in the cited files")
    badtests = audit_test_citations()
    if badtests:
        print(f"FAIL  OPERATORS.md cites tests that do not exist: {badtests}")
        return 1
    print("ok    OPERATORS.md test citations all resolve to tests")
    if "--audit" in sys.argv:
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from rgm.session import get_spark

    spark = get_spark(app_name="selfcheck", cpus=8, shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name:28s} spark error: {ex}")
            fails.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name:28s} rows={len(got):7d} ({dt:5.1f}s) [rows-only, no oracle]")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name:28s} duckdb error: {ex}")
            fails.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name:28s} columns {list(g.columns)} != {list(w.columns)}")
            fails.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL  {name:28s} rows {len(g)} != {len(w)}")
            fails.append(name)
            continue
        eq = True
        for c in g.columns:
            a, b = g[c].to_numpy(), w[c].to_numpy()
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                import numpy as np

                if not np.allclose(
                    a.astype(float), b.astype(float), rtol=1e-12, atol=1e-12, equal_nan=True
                ):
                    eq = False
                    break
            elif not (a == b).all():
                eq = False
                break
        if eq:
            print(f"PASS  {name:28s} rows={len(g):7d} ({dt:5.1f}s)")
        else:
            print(f"FAIL  {name:28s} value mismatch in column {c}")
            bad = (g[c].to_numpy() != w[c].to_numpy())
            print(g[bad].head(3))
            print(w[bad].head(3))
            fails.append(name)
    spark.stop()
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
