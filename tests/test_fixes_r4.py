"""Round-4 regression tests: hash-sampled IVF training + fingerprinted
resume, compaction append-merge guard, manifest doc-cache invalidation,
ragged polygon-vs-ring refine kernels, OPERATORS.md claim audit."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    return df.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    ).cache()


def test_xxh64_int64_matches_spark(spark):
    """The numpy XXH64-of-int64 mirror (fixture-side hash sampling) is
    bit-identical to Spark's xxhash64 on a BIGINT column."""
    from rgm.xxh import xxh64_int64

    vals = [0, 1, -1, 42, -(1 << 62), (1 << 62) + 12345, 9_999_999_999]
    got = xxh64_int64(np.asarray(vals, dtype=np.int64))
    want = [
        r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .select(F.xxhash64("v").alias("h"))
        .collect()
    ]
    assert got.tolist() == want


def test_ivf_hash_sample_order_independent(spark):
    """The training sample is a hash sample (not the sorted head): the same
    rows are selected whatever order the input arrives in, and ids beyond
    the first sample_rows make it in (unbiased w.r.t. id order)."""
    from rgm import similarity as rsim

    rows = [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    shuffled = spark.createDataFrame(rows[::-1], df.schema).repartition(5)
    s1 = rsim.hash_sample(df, 64, 16, "vec_id", "embedding")
    s2 = rsim.hash_sample(shuffled, 64, 16, "vec_id", "embedding")
    assert np.array_equal(s1, s2)
    # m = 4: the selected ids are the xxhash64 % 4 == 0 subset, id-sorted —
    # mirror with the numpy hash and check it is NOT simply range(16)
    from rgm.xxh import xxh64_int64

    ids = np.arange(64, dtype=np.int64)
    want_ids = np.sort(ids[xxh64_int64(ids) % 4 == 0])[:16]
    assert not np.array_equal(want_ids, np.arange(16))
    want = np.asarray(
        [[float(i % 7), float(i % 5), 1.0] for i in want_ids], dtype=np.float64
    )
    assert np.array_equal(s1, want)


def test_ivf_resume_fingerprint(spark, tmp_path, emb):
    """A committed IVF index is reused only for the same params AND the
    same corpus: changed params or regenerated embeddings rebuild instead
    of silently serving a stale index (ADVICE r3)."""
    from rgm import similarity as rsim
    from rgm.checkpoint import manifest_doc

    out = str(tmp_path / "ivf")
    rsim.build_ivf_index(spark, emb, out, n_cells=4, iters=2, sample_rows=100)
    doc1 = manifest_doc(out)
    t1 = doc1["stages"]["vectors"]["committed_utc"]

    # same corpus + params: resume (no recommit)
    rsim.build_ivf_index(spark, emb, out, n_cells=4, iters=2, sample_rows=100)
    assert manifest_doc(out)["stages"]["vectors"]["committed_utc"] == t1

    # changed params: rebuild
    rsim.build_ivf_index(spark, emb, out, n_cells=8, iters=2, sample_rows=100)
    doc2 = manifest_doc(out)
    assert doc2["params"]["ivf"]["n_cells"] == 8
    assert doc2["stages"]["vectors"]["committed_utc"] != t1

    # changed corpus (one vector perturbed): rebuild
    t2 = doc2["stages"]["vectors"]["committed_utc"]
    emb2 = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.transform("embedding", lambda x: x + F.lit(1.0)),
        ).otherwise(F.col("embedding")),
    )
    rsim.build_ivf_index(spark, emb2, out, n_cells=8, iters=2, sample_rows=100)
    assert manifest_doc(out)["stages"]["vectors"]["committed_utc"] != t2


def test_compaction_merges_concurrent_appends(spark, tmp_path):
    """Files appended to the pairs stage WHILE a compaction rewrites it are
    merged into the committed directory, not silently deleted (ADVICE r3:
    the old swap dropped them)."""
    from rgm import index as ridx
    from rgm import query as rq
    from rgm.checkpoint import manifest_doc

    base = spark.createDataFrame(
        [(f"b{i}", "point", 30.0 + i * 0.1, -100.0) for i in range(10)],
        "key string, kind string, lat double, lng double",
    )
    out = str(tmp_path / "idx")
    ridx.build_index(spark, base, "key", out, bucket=3, n_buckets=2)
    rows_before = spark.read.parquet(os.path.join(out, "pairs")).count()

    pairs_dir = os.path.join(out, "pairs")
    src = ridx._list_stage_files(out, "pairs")[0]

    def append_during_compaction():
        shutil.copy2(src, os.path.join(pairs_dir, "late-microbatch.parquet"))

    appended_rows = spark.read.parquet(src).count()
    ridx.compact_pairs(
        spark, out, n_buckets=2, _post_write_hook=append_during_compaction
    )
    m = manifest_doc(out)["stages"]["pairs"]["metrics"]
    assert m["merged_appends"] == 1
    assert (
        spark.read.parquet(os.path.join(out, "pairs")).count()
        == rows_before + appended_rows
    )
    # index still serves queries over the merged table
    qdf = spark.createDataFrame(
        [("qa", "cap", 30.5, -100.0, 200_000.0)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    assert rq.search(spark, out, qdf, refine=True).count() > 0


def test_manifest_flush_invalidates_doc_cache(tmp_path):
    """Two _flush calls within one mtime tick must not serve the older doc
    (ADVICE r3): _flush drops the cache entry, so same-process readers
    always see the latest params."""
    from rgm.checkpoint import Manifest, manifest_doc

    root = str(tmp_path / "man")
    man = Manifest(root)
    man.set_params(bucket=3)
    assert manifest_doc(root)["params"]["bucket"] == 3
    mtime = os.path.getmtime(man.path)
    man.set_params(bucket=7)
    os.utime(man.path, (mtime, mtime))  # force the SAME mtime
    assert manifest_doc(root)["params"]["bucket"] == 7


def test_polygon_payload_vs_polygon_query_refinement(spark, tmp_path):
    """End-to-end check of the newly batched polygon-vs-polygon refine
    path: polygon payloads indexed, polygon queries refined (intersects +
    contains), vs a direct numpy oracle over the same geometry."""
    from rgm import geo
    from rgm import index as ridx
    from rgm import query as rq

    def ring(cy, cx, r, m, rot):
        ang = rot + np.linspace(0.0, 2 * np.pi, m, endpoint=False)
        return [[float(cy + r * np.sin(a)), float(cx + r * np.cos(a))] for a in ang]

    payloads = [
        (f"poly{i}", "polygon", ring(32.0 + i * 0.8, -104.0 + i * 0.7, 0.4 + 0.05 * i, 5 + i % 3, 0.3 * i))
        for i in range(12)
    ]
    src = spark.createDataFrame(
        payloads, "key string, kind string, verts array<array<double>>"
    )
    out = str(tmp_path / "polyidx")
    ridx.build_index(spark, src, "key", out, bucket=3, n_buckets=2)

    queries = [
        ("qbig", "polygon", ring(34.0, -102.0, 6.0, 7, 0.1)),
        ("qmid", "polygon", ring(33.0, -103.5, 1.2, 6, 0.5)),
    ]
    qdf = spark.createDataFrame(
        queries, "query_id string, kind string, verts array<array<double>>"
    )
    for mode in ("intersects", "contains"):
        got = {
            (r["query_id"], r["key"])
            for r in rq.search(
                spark, out, qdf, refine=True, refine_mode=mode
            ).collect()
        }
        want = set()
        for qid, _, qverts in queries:
            qring = np.asarray(qverts, dtype=np.float64)
            for key, _, pverts in payloads:
                pring = np.asarray(pverts, dtype=np.float64)
                ok = (
                    geo.polygon_intersects_polygon(pring, qring)
                    if mode == "intersects"
                    else geo.polygon_inside_polygon(pring, qring)
                )
                if ok:
                    want.add((qid, key))
        assert got == want, mode
        if mode == "contains":
            assert want  # the big query must fully contain some payloads
