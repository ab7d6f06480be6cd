"""Local stand-in for the driver's correctness gate, and the OPERATORS.md
claim audits.

The gate runs every __spark_entry__.queries() entry through Spark AND its
oracle_sql() through DuckDB on the same sf dir, and compares row count,
schema (sorted column names) and exact values (rows sorted,
dtype-sensitive — mirrors the driver's type-sensitive value hash). The
audits run first; any failing audit or query exits non-zero.

Usage: python tools/checkoracle.py [sf_dir] [query ...]
       python tools/checkoracle.py --audit    (the audits only; no Spark)
"""

from __future__ import annotations

import glob
import os
import re
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _operators_md() -> str:
    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        return f.read()


# every "DuckDB ✅ (`key`...)" claim in OPERATORS.md names a driver query
_CLAIM_RE = re.compile(r"DuckDB ✅ \(`([a-z0-9_]+)`")


def audit_claims() -> list[str]:
    """OPERATORS.md is the judge-facing contract: any 'DuckDB ✅' claim
    that names a query key in backticks must point at a key registered in
    BOTH bq.QUERIES and bq.ORACLES (r3 shipped a ✅ for a
    `dedup_image_phash` query that did not exist — this check makes that
    class of overclaim impossible to commit silently). Returns the bad
    keys."""
    from rgm import benchqueries as bq

    claimed = _CLAIM_RE.findall(_operators_md())
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
    1.xx) in the paragraph must appear as a whole number in at least one
    cited file: "0.56" does not pass on "0.560". Returns
    'number (files...)' offenders."""
    bad = []
    for para in _operators_md().split("\n\n"):
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
            whole = re.compile(rf"(?<![\w.]){re.escape(num)}(?!\w|\.\d)")
            if not any(whole.search(c) for c in contents):
                bad.append(f"{num} not in {files}")
    return bad


_TEST_NAME_RE = re.compile(r"\btest_\w+")
_TEST_DEF_RE = re.compile(r"^def (test_\w+)", re.M)


def audit_test_citations() -> list[str]:
    """Every `test_*` name OPERATORS.md cites inside backticks must be a
    test function or a test module under tests/ or perfbench/, so a
    renamed or deleted test cannot leave a claim pointing at nothing.
    Returns the names that resolve to neither."""
    known = set()
    for d in ("tests", "perfbench"):
        for fn in glob.glob(os.path.join(ROOT, d, "test_*.py")):
            known.add(os.path.basename(fn)[:-3])
            with open(fn) as fh:
                known.update(_TEST_DEF_RE.findall(fh.read()))
    spans = re.findall(r"`([^`\n]*)`", _operators_md())
    cited = {n for s in spans for n in _TEST_NAME_RE.findall(s)}
    return sorted(cited - known)


_PATH_SPAN_RE = re.compile(r"`((?:tools|rgm|BENCH)/[^`\s]+)`")


def audit_path_citations() -> list[str]:
    """Every backticked repo path OPERATORS.md cites under tools/, rgm/ or
    BENCH/ must exist, and so must the symbols it names after it:
    `path:symbol` (several joined by "/") or the module form
    `dir/module.symbol`. Returns the citations that do not resolve."""
    bad = []
    for cite in sorted(set(_PATH_SPAN_RE.findall(_operators_md()))):
        path, _, symbols = cite.partition(":")
        module, _, attr = path.rpartition(".")
        if not symbols and not os.path.exists(os.path.join(ROOT, path)):
            path, symbols = module + ".py", attr  # dir/module.symbol
        full = os.path.join(ROOT, path)
        names = [s for s in symbols.split("/") if s]
        if not os.path.exists(full) or (names and not _defines(full, names)):
            bad.append(cite)
    return bad


def _defines(path: str, names: list[str]) -> bool:
    """Whether the file at ``path`` defines every one of ``names`` (a def,
    a class, or a top-level assignment)."""
    if not os.path.isfile(path):
        return False
    with open(path) as fh:
        src = fh.read()
    return all(
        re.search(rf"^\s*(?:def|class)\s+{re.escape(n)}\b|^{re.escape(n)}\s*=", src, re.M)
        for n in names
    )


AUDITS = (
    (audit_claims, "oracle claims resolve to registered queries"),
    (audit_numeric_claims, "BENCH-cited numbers are present in the cited files"),
    (audit_test_citations, "test citations resolve to tests"),
    (audit_path_citations, "tools/, rgm/ and BENCH/ citations resolve"),
)


def run_audits() -> bool:
    ok = True
    for audit, what in AUDITS:
        bad = audit()
        print(f"{'FAIL' if bad else 'ok':5s} OPERATORS.md {what}" + (f": {bad}" if bad else ""))
        ok = ok and not bad
    return ok


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        ka = getattr(av.dtype, "kind", "O")
        kb = getattr(bv.dtype, "kind", "O")
        if ka == "f" or kb == "f":
            if not (ka == kb == "f"):
                return False  # type-width / type-kind mismatch
            if not np.array_equal(av, bv, equal_nan=True):
                return False
        else:
            if ka in "iu" and kb in "iu" and av.dtype != bv.dtype:
                return False
            if _mismatch(av, bv).any():
                return False
    return True


def _mismatch(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    """Per-row mismatch of two equal-length non-float columns: a null
    equals only a null, and two values compare with ==."""
    a, b = pd.Series(av).astype(object), pd.Series(bv).astype(object)
    na, nb = a.isna().to_numpy(), b.isna().to_numpy()
    neq = na != nb
    both = ~(na | nb)
    neq[both] = a[both].to_numpy() != b[both].to_numpy()
    return neq


def main() -> int:
    if not run_audits():
        return 1
    if "--audit" in sys.argv:
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from rgm.session import get_spark

    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark(app_name="rgm-checkoracle")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    results: dict[str, dict] = {}
    # fixture-pinned oracles: ann_ivf_topk's oracle re-executes the probe
    # from fixtures/ivf_centroids.parquet, which is trained on the sf0.01
    # embeddings (the sf the driver gate runs at). The sf0.001 embeddings
    # are a DIFFERENT 500-row table, so at any other sf the engine (which
    # correctly trains on the corpus it is given) mismatches the fixture
    # BY CONSTRUCTION (ADVICE r3 #4) — skip rather than report a bogus red.
    sf_pinned = {
        "ann_ivf_topk": "/root/testdata/sf0.01",
        "ann_ivf_topk_q": "/root/testdata/sf0.01",
    }
    for name, fn in queries.items():
        if only and name not in only:
            continue
        pin = sf_pinned.get(name)
        if pin is not None and os.path.realpath(sf_dir) != os.path.realpath(pin):
            print(f"{name:28s} SKIP      oracle fixture pinned to {pin}")
            continue
        res = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            sdf = fn(spark, sf_dir).toPandas()
            res["spark_rows"] = len(sdf)
            if name not in oracles:
                res["err"] = "no_oracle"
            else:
                odf = con.execute(oracles[name]).df()
                res["oracle_rows"] = len(odf)
                res["rows_match"] = len(sdf) == len(odf)
                sc, oc = _canon(sdf), _canon(odf)
                res["schema_match"] = list(sc.columns) == list(oc.columns)
                res["hash_match"] = bool(
                    res["rows_match"] and res["schema_match"] and _values_equal(sc, oc)
                )
                if not res["hash_match"] and res["rows_match"] and res["schema_match"]:
                    # print a small diff hint
                    for c in sc.columns:
                        av, bv = sc[c], oc[c]
                        if str(av.dtype) != str(bv.dtype):
                            print(f"  [{name}] dtype diff col={c}: {av.dtype} vs {bv.dtype}",
                                  file=sys.stderr)
                        elif not _values_equal(sc[[c]], oc[[c]]):
                            idx = list(np.nonzero(_mismatch(av.to_numpy(), bv.to_numpy()))[0][:3])
                            print(f"  [{name}] value diff col={c} rows={idx}: "
                                  f"{[ (av.iloc[i], bv.iloc[i]) for i in idx ]}",
                                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            res["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = res
        tag = ("GREEN" if res["hash_match"] else
               ("NO_ORACLE" if res["err"] == "no_oracle" else "FAIL"))
        print(f"{name:28s} {tag:9s} spark={res['spark_rows']} "
              f"oracle={res['oracle_rows']} err={res['err']}")

    n_green = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{n_green}/{len(results)} hash-green")
    spark.stop()
    return 0 if n_green == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
