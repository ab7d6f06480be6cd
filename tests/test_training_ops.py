"""Tests for the training-data pipeline operators (dedup / similarity /
text) against exact oracles computed in numpy/pandas."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    return df.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double"))).cache()


def _exact_jaccard_pairs(pdf, n=4, threshold=0.8):
    grams = {
        r.doc_id: {r.text[i : i + n] for i in range(max(len(r.text) - n + 1, 1))}
        for r in pdf.itertuples()
    }
    grams = {k: {g for g in v if len(g) == n} for k, v in grams.items()}
    ids = sorted(grams)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(grams[a] & grams[b])
            if inter == 0:
                continue
            j = inter / (len(grams[a]) + len(grams[b]) - inter)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_ngram_jaccard_exact(spark, docs):
    from rgm import dedup as rdd

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in rdd.ngram_jaccard_pairs(docs, "doc_id", "text", 4, 0.8).collect()
    }
    want = _exact_jaccard_pairs(docs.toPandas(), 4, 0.8)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_lsh_recall(spark, docs):
    from rgm import dedup as rdd

    want = set(_exact_jaccard_pairs(docs.toPandas(), 4, 0.8))
    got = {
        (r["id_a"], r["id_b"])
        for r in rdd.minhash_lsh_pairs(
            docs, "doc_id", "text", n=4, num_perm=64, bands=16, threshold=0.8
        ).collect()
    }
    # verify=True makes precision exact; banding gives high recall at j>=0.8
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_simhash_hamming_near_dups(spark, docs):
    from rgm import dedup as rdd

    pairs = rdd.simhash_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # near-identical docs (jaccard >= 0.9) should mostly be hamming-close
    strong = set(_exact_jaccard_pairs(docs.toPandas(), 4, 0.9))
    if strong:
        assert len(got & strong) >= 0.7 * len(strong)
    for r in pairs:
        assert 0 <= r["hamming"] <= 6


def test_exact_dedup(spark, docs):
    from rgm import dedup as rdd

    with_dupes = docs.unionByName(docs.limit(10))
    out = rdd.exact_dedup(with_dupes, "text", "doc_id")
    assert out.count() == docs.count()
    n2 = out.filter(F.col("doc_id").isin([r["doc_id"] for r in docs.limit(10).collect()])).count()
    assert n2 == 10


def test_brute_topk_matches_numpy(spark, emb):
    from rgm import similarity as rsim

    pdf = emb.toPandas().sort_values("vec_id")
    m = np.asarray([np.asarray(x) for x in pdf["embedding"]])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = rsim.brute_topk(emb, queries, 5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    ids = pdf["vec_id"].to_numpy()
    for qi in range(3):
        cos = mn @ mn[qi]
        order = np.lexsort((ids, -cos))[:5]
        want = [int(ids[j]) for j in order]
        assert [v for _, v in sorted(by_q[str(qi)])] == want


def _ivf_probe_all_matches_brute(spark, vectors, out, n_cells, n_queries, k):
    """With every cell probed, ivf_search is exact: it must equal
    brute_topk by (query_id, vec_id, rank)."""
    from rgm import similarity as rsim

    rsim.build_ivf_index(spark, vectors, out, n_cells=n_cells, iters=2, sample_rows=300)
    queries = vectors.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )

    def ranked(df):
        return {(r["query_id"], r["vec_id"], r["rank"]) for r in df.collect()}

    got = ranked(rsim.ivf_search(spark, out, queries, k=k, nprobe=n_cells))
    assert got == ranked(rsim.brute_topk(vectors, queries, k=k))
    assert len(got) == n_queries * k


def test_ivf_search_all_cells_matches_brute(spark, tmp_path, emb):
    _ivf_probe_all_matches_brute(spark, emb, str(tmp_path / "ivf"), n_cells=8, n_queries=6, k=5)


def test_ivf_search_wide_embeddings_matches_brute(spark, tmp_path, wide_emb):
    """64-dim vectors: the probe rows are wide, and the result is still
    the exact top-k."""
    _ivf_probe_all_matches_brute(spark, wide_emb, str(tmp_path / "ivf"), n_cells=6, n_queries=5, k=4)


def test_embedding_neardup_finds_closest_pair(spark, emb):
    from rgm import dedup as rdd

    pdf = emb.toPandas()
    m = np.asarray([np.asarray(x) for x in pdf["embedding"]])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    np.fill_diagonal(cos, -1)
    t = float(np.quantile(cos.max(axis=1), 0.99))
    got = rdd.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=t, n_tables=16, bits_per_table=3
    ).collect()
    ids = pdf["vec_id"].to_numpy()
    want = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(*np.nonzero(cos >= t))
    }
    gotset = {(r["id_a"], r["id_b"]) for r in got}
    assert gotset <= want
    if want:
        assert len(gotset) >= 0.5 * len(want)


def test_text_lang_id_accuracy(spark, docs):
    """Heuristic lang ID should beat chance massively on the en subset."""
    from rgm import text as rtext

    out = rtext.lang_id(docs, "doc_id", "text").join(docs, "doc_id")
    en = out.filter(F.col("lang") == "en")
    if en.count() >= 20:
        acc = en.filter(F.col("pred_lang") == "en").count() / en.count()
        assert acc >= 0.5, f"en accuracy {acc}"


def test_text_stats_oracle(spark, docs):
    from rgm import text as rtext

    got = {r["doc_id"]: r for r in rtext.text_stats(docs, "doc_id", "text").collect()}
    import re

    for r in docs.limit(50).collect():
        t = r["text"]
        g = got[r["doc_id"]]
        assert g["n_chars"] == len(t)
        assert g["n_tokens"] == (len(t.strip().split()) if t.strip() else 0)
        assert g["n_punct"] == len(re.findall(r"[^\w\s]", t))


def test_fingerprint_stable_under_prefix_edit(spark, docs):
    """Winnowing min-hash fingerprint usually survives a small prefix edit."""
    from rgm import text as rtext

    base = rtext.fingerprint(docs.limit(50), "doc_id", "text")
    edited = docs.limit(50).withColumn("text", F.concat(F.lit("X "), F.col("text")))
    ed = rtext.fingerprint(edited, "doc_id", "text")
    j = base.join(ed.withColumnRenamed("fingerprint", "fp2"), "doc_id")
    same = j.filter(F.col("fingerprint") == F.col("fp2")).count()
    assert same >= 40


# ---------------------------------------------------------------------------
# r2 additions: XXH64 golden parity, LSH fanout caps, gram-frequency cap
# ---------------------------------------------------------------------------


def test_xxh64_matches_spark(spark):
    """The pure-numpy XXH64 (oracle-fixture hash) is bit-identical to
    Spark's xxhash64 expression across every code path (empty, <8B, 4B
    tail, 8B blocks, and the >=32B four-lane loop)."""
    from rgm.xxh import xxh64_str

    samples = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh", "0123456789abcde",
               "0123456789abcdef", "x" * 31, "x" * 32, "x" * 33, "y" * 100,
               "the quick brown fox jumps over the lazy dog"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    want = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    got = xxh64_str(samples)
    assert [int(x) for x in got] == [int(x) for x in want]


def test_minhash_bucket_cap_bounds_pathological_corpus(spark):
    """1,000 identical docs would yield ~500k candidate pairs per band
    without the bucket cap; with it the degenerate bucket is dropped and the
    job completes with bounded output (exact-duplicate clusters belong to
    exact_dedup)."""
    from rgm import dedup as rdd

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("all identical duplicate document text for the cap test").alias("text"),
    )
    out = rdd.minhash_lsh_pairs(
        df, "doc_id", "text", verify=False, max_bucket_size=100
    )
    assert out.count() == 0  # bucket of 1000 > cap -> dropped, not expanded


def test_minhash_bucket_cap_keeps_normal_buckets(spark, docs):
    from rgm import dedup as rdd

    want = set(_exact_jaccard_pairs(docs.toPandas(), 4, 0.8))
    got = {
        (r["id_a"], r["id_b"])
        for r in rdd.minhash_lsh_pairs(
            docs, "doc_id", "text", verify=True, max_bucket_size=1000
        ).collect()
    }
    assert got == want  # cap far above real bucket sizes: no effect


def test_ngram_max_gram_docs_is_lower_bound(spark, docs):
    """Dropping hot grams can only shrink n_inter, so capped results are a
    subset of exact results; with a cap above every gram's df the output is
    exactly the uncapped one."""
    from rgm import dedup as rdd

    exact = {
        (r["id_a"], r["id_b"])
        for r in rdd.ngram_jaccard_pairs(docs, "doc_id", "text", 4, 0.8).collect()
    }
    capped_loose = {
        (r["id_a"], r["id_b"])
        for r in rdd.ngram_jaccard_pairs(
            docs, "doc_id", "text", 4, 0.8, max_gram_docs=10**6
        ).collect()
    }
    capped_tight = {
        (r["id_a"], r["id_b"])
        for r in rdd.ngram_jaccard_pairs(
            docs, "doc_id", "text", 4, 0.8, max_gram_docs=3
        ).collect()
    }
    assert capped_loose == exact
    assert capped_tight <= exact


def test_simhash_fixture_matches_engine(spark, docs):
    """The execution-independent simhash recomputation (pure-numpy XXH64 +
    voting, tools/make_fixtures.py) equals the Spark aggregation."""
    import sys

    sys.path.insert(0, "/root/repo")
    from rgm import dedup as rdd
    from tools.make_fixtures import simhash_py

    got = {r["doc_id"]: r["simhash"] for r in rdd.simhash(docs, "doc_id", "text").collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    for r in pdf.itertuples():
        want = simhash_py(r.text)
        if want is None:
            assert r.doc_id not in got
        else:
            assert got[r.doc_id] == want
