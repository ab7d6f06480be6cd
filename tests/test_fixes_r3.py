"""Round-3 regression tests: NaN-cosine top-k agreement, scale-safe dedup
cap defaults + pipeline wrappers, bloom NDV under chunked covers."""

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


def test_zero_norm_vector_topk_deterministic(spark):
    """A zero-norm vector must not crash (ANSI DIVIDE_BY_ZERO) nor rank
    nondeterministically between the partial and final top-k stages
    (ADVICE r2): the norm floor scores it cosine ~0, ranking it below every
    positively-correlated vector in both stages."""
    from rgm import similarity as rsim

    rows = [(i, [float(i + 1), 1.0, 0.0]) for i in range(8)]
    rows.append((99, [0.0, 0.0, 0.0]))  # zero-norm
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    queries = spark.createDataFrame(
        [("q0", [1.0, 0.0, 0.0])], "query_id string, q_embedding array<double>"
    )
    top3 = {r["vec_id"] for r in rsim.brute_topk(vecs, queries, k=3).collect()}
    assert 99 not in top3
    all9 = rsim.brute_topk(vecs, queries, k=9).collect()
    worst = max(all9, key=lambda r: r["rank"])
    assert worst["vec_id"] == 99 and len(all9) == 9


def test_dedup_bucket_caps_default_off(spark):
    """Default semantics are complete (no silent candidate drops): a corpus
    whose ordinary buckets exceed the old fixed cap of 1000 must still
    produce its near-dup pairs."""
    import inspect

    from rgm import dedup as rdd

    for fn in (rdd.minhash_lsh_pairs, rdd.simhash_pairs, rdd.embedding_neardup_pairs):
        assert inspect.signature(fn).parameters["max_bucket_size"].default is None


def test_pipeline_auto_cap_and_equivalence(spark, emb):
    """auto_bucket_cap scales with corpus/bucket count; at test scale the
    scaled cap sits above every bucket so the pipeline wrapper equals the
    exact (uncapped) operator."""
    from rgm import dedup as rdd
    from rgm import pipeline as rpl

    assert rpl.auto_bucket_cap(1_000_000, 16, mult=8.0) == 500_000
    assert rpl.auto_bucket_cap(100, 16) == 1024  # floor
    exact = {
        (r["id_a"], r["id_b"])
        for r in rdd.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.45, dim=64
        ).collect()
    }
    piped = {
        (r["id_a"], r["id_b"])
        for r in rpl.embedding_dedup(
            emb, "vec_id", "embedding", threshold=0.45, dim=64
        ).collect()
    }
    assert piped == exact


def test_pipeline_minhash_subset_of_exact(spark):
    from rgm import pipeline as rpl

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    piped = rpl.minhash_dedup(docs, "doc_id", "text")
    rows = piped.collect()
    assert all(r["jaccard"] >= 0.8 for r in rows)


def test_bloom_ndv_sums_chunked_covers(tmp_path):
    """covers.cNN chunk stages must contribute to the bloom NDV estimate
    (the r2 bug sized blooms from rows=0 -> 1024 NDV on chunked builds)."""
    from rgm.checkpoint import Manifest
    from rgm.index import _bloom_opts

    man = Manifest(str(tmp_path / "idx"))
    man.doc["stages"] = {
        "covers.c00": {"metrics": {"rows": 300_000}},
        "covers.c01": {"metrics": {"rows": 250_000}},
        "keys": {"metrics": {"rows": 550_000}},
    }
    opts = _bloom_opts(man)
    assert opts["parquet.bloom.filter.expected.ndv#cell_id"] == str(2 * 550_000)
    # resume-time fallback: no covers metrics at all -> keys rows
    man.doc["stages"] = {"keys": {"metrics": {"rows": 10_000}}}
    assert _bloom_opts(man)["parquet.bloom.filter.expected.ndv#cell_id"] == str(20_000)


def test_manifest_doc_cache_invalidates_on_commit(tmp_path, spark):
    import os
    import time

    from rgm.checkpoint import Manifest, manifest_doc

    root = str(tmp_path / "m")
    man = Manifest(root)
    man.set_params(bucket=3)
    assert manifest_doc(root)["params"]["bucket"] == 3
    time.sleep(0.01)
    man.set_params(bucket=5)
    # ensure mtime moved (coarse filesystems)
    os.utime(man.path)
    assert manifest_doc(root)["params"]["bucket"] == 5


def test_ragged_ring_kernels_match_scalar():
    """The vectorized own-ring kernels must equal the scalar kernels
    element-for-element on a ragged batch of random rings."""
    import numpy as np

    from rgm import geo

    rng = np.random.default_rng(5)
    n = 60
    pts_y = rng.uniform(30, 45, n)
    pts_x = rng.uniform(-120, -80, n)
    rings = []
    for i in range(n):
        m = int(rng.integers(3, 9))
        cy, cx = pts_y[i] + rng.normal(0, 2), pts_x[i] + rng.normal(0, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.5, 3.0, m)
        rings.append(
            np.stack([cy + rad * np.sin(ang), cx + rad * np.cos(ang)], axis=1)
        )
    lens = np.array([len(r) for r in rings])
    offs = np.concatenate([[0], np.cumsum(lens)])
    fy = np.concatenate([r[:, 0] for r in rings])
    fx = np.concatenate([r[:, 1] for r in rings])

    got_d = geo.points_to_own_ring_dist_m(pts_y, pts_x, fy, fx, offs)
    got_mx = geo.points_to_own_verts_maxdist_m(pts_y, pts_x, fy, fx, offs)
    got_in = geo.points_in_own_polygon(pts_y, pts_x, fy, fx, offs)
    for i, r in enumerate(rings):
        assert got_d[i] == geo.point_to_ring_dist_m(pts_y[i], pts_x[i], r[:, 0], r[:, 1])
        assert got_mx[i] == geo.point_to_verts_maxdist_m(pts_y[i], pts_x[i], r[:, 0], r[:, 1])
        assert got_in[i] == bool(
            geo.points_in_polygon(pts_y[i : i + 1], pts_x[i : i + 1], r)[0]
        )
    # many-points-vs-one-ring kernel vs scalar loop
    one = rings[0]
    got = geo.points_to_ring_dist_m(pts_y, pts_x, one[:, 0], one[:, 1])
    for i in range(n):
        assert got[i] == geo.point_to_ring_dist_m(pts_y[i], pts_x[i], one[:, 0], one[:, 1])


def test_ivf_materialized_index(spark, emb, tmp_path):
    """build_ivf_index materializes a cell-partitioned corpus + trained
    centroids in the manifest; ivf_search partition-prunes the scan and
    reaches good recall vs brute force."""
    import os

    from rgm import similarity as rsim

    out = str(tmp_path / "ivf")
    man = rsim.build_ivf_index(spark, emb, out, n_cells=16, iters=5)
    # physical layout: one partition dir per populated cell
    dirs = [d for d in os.listdir(os.path.join(out, "vectors")) if d.startswith("cell=")]
    assert len(dirs) > 1
    assert len(man.doc["params"]["ivf"]["centroids"]) == 16

    # resume: a second call must not rewrite the stage
    committed = man.doc["stages"]["vectors"]["committed_utc"]
    man2 = rsim.build_ivf_index(spark, emb, out, n_cells=16, iters=5)
    assert man2.doc["stages"]["vectors"]["committed_utc"] == committed

    queries = emb.filter("vec_id < 8").selectExpr(
        "cast(vec_id as string) as query_id", "embedding as q_embedding"
    )
    got = rsim.ivf_search(spark, out, queries, k=10, nprobe=4)
    # partition pruning is physical: the scan must carry PartitionFilters
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    truth = rsim.brute_topk(emb, queries, k=10)
    t = {(r["query_id"], r["vec_id"]) for r in truth.collect()}
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    assert len(g & t) >= 0.6 * len(t)


def test_region_tiles_fixture_sandwich():
    """The tiles_for_regions oracle fixture is geometrically certified by
    an independent sandwich (haversine point membership for completeness,
    cell-corner reach for soundness) — not merely algorithm-frozen. A
    tampered fixture must fail both directions."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from make_fixtures import FIXDIR, validate_region_tiles

    rt = pd.read_parquet(os.path.join(FIXDIR, "region_tiles_l9.parquet"))
    ta = pd.read_parquet(os.path.join(FIXDIR, "tile_assign_l9.parquet"))
    validate_region_tiles(rt, ta)

    # soundness direction: a far-away tile must be rejected
    from rgm import cellmath as cm

    far = int(cm.to_spark(cm.latlng_to_cell(np.array([-33.0]), np.array([151.0]), 9))[0])
    bad = pd.concat(
        [rt, pd.DataFrame({"query_id": [rt["query_id"].iloc[0]], "tile_id": [far]})]
    )
    with pytest.raises(AssertionError, match="beyond the cap reach"):
        validate_region_tiles(bad, ta)

    # completeness direction: dropping a populated tile must be caught
    qid = rt["query_id"].iloc[0]
    drop_tile = rt[rt["query_id"] == qid]["tile_id"].iloc[0]
    # only a *point-populated* tile triggers the lower bound; find one
    pop = set(ta["tile_id"])
    cand = [t for t in rt[rt["query_id"] == qid]["tile_id"] if t in pop]
    if cand:
        drop_tile = cand[0]
        pruned = rt[~((rt["query_id"] == qid) & (rt["tile_id"] == drop_tile))]
        with pytest.raises(AssertionError, match="tiles missing"):
            validate_region_tiles(pruned, ta)
