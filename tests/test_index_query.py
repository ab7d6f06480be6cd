"""End-to-end parity suites (SURVEY §5.3 / FIXTURES.md §4).

Recreates the reference's four gtest scenarios + the Go round-trip as Spark
jobs on synthetic tables and asserts identical key sets, with a brute-force
geometric oracle for ground truth:

- suite A single_cell  (RoaringGeoMapWriterTest.cpp:11-40)
- suite B polygon_contains (RoaringGeoMapWriterTest.cpp:42-94)
- suite C miss         (RoaringGeoMapWriterTest.cpp:96-124)
- suite E fixed_cell   (go/roaringgeomap_test.go:9-46)
- suite D us_20k       (RoaringGeoMapWriterTest.cpp:168-246) in test_parity_us.py
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rgm import cellmath as cm
from rgm import index as ridx
from rgm import query as rq

SF = (37.7749, -122.4194)


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    """Suite A/C fixture: one point key at SF (bucket=1 in the reference;
    we keep bucket=3 and rely on lattice semantics) plus a polygon key
    (suite B) and a fixed-cell key (suite E)."""
    out = str(tmp_path_factory.mktemp("idx") / "small")
    rows = [
        # suite A: single point at SF
        ("single-id", "point", SF[0], SF[1], None, None),
        # suite B: 1x1 degree square polygon at (0,0)-(1,1), max_cells=10
        ("polygon-id", "polygon", None, None,
         [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0]], 10),
        # suite E: fixed cell id (the go test indexes this exact cell)
        ("fixed-a", "cell", None, None, None, None),
        ("fixed-b", "cell", None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "key string, kind string, lat double, lng double, "
        "verts array<array<double>>, max_cells int"
    )
    fixed = int(np.uint64(9260949627242122337).view(np.int64))
    df = df.withColumn(
        "cell_id",
        F.when(F.col("key").startswith("fixed"), F.lit(fixed)).otherwise(F.lit(None)),
    )
    ridx.build_index(spark, df, "key", out, bucket=3, max_cells=10, n_buckets=4)
    return out


def _q(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_suite_a_single_cell(spark, small_index):
    """Query = same SF point -> exactly the single-id key (plus the fixed
    cell keys, which sit on the same leaf: the go test cell IS the SF leaf)."""
    q = _q(spark, [("q1", "point", SF[0], SF[1])], "query_id string, kind string, lat double, lng double")
    got = rq.search(spark, small_index, q, refine=False)
    keys = {r["key"] for r in got.collect()}
    # fixed-a/fixed-b are indexed on the SF leaf cell itself
    assert keys == {"single-id", "fixed-a", "fixed-b"}


def test_suite_b_polygon_interior_point(spark, small_index):
    """Query = leaf cell of (0.5, 0.5) -> polygon-id via ancestor-match."""
    q = _q(spark, [("q1", "point", 0.5, 0.5)], "query_id string, kind string, lat double, lng double")
    got = rq.search(spark, small_index, q, refine=False)
    keys = {r["key"] for r in got.collect()}
    assert keys == {"polygon-id"}


def test_suite_c_miss_south_pole(spark, small_index):
    q = _q(spark, [("q1", "point", -90.0, 0.0)], "query_id string, kind string, lat double, lng double")
    got = rq.search(spark, small_index, q, refine=False)
    assert got.count() == 0


def test_suite_e_fixed_cell_roundtrip(spark, small_index):
    """Query the fixed cell -> both fixed keys (go/roaringgeomap_test.go:34-45)."""
    fixed = int(np.uint64(9260949627242122337).view(np.int64))
    q = _q(spark, [("q1", "cell", fixed)], "query_id string, kind string, cell_id long")
    got = rq.search(spark, small_index, q, refine=False)
    keys = {r["key"] for r in got.collect()}
    assert {"fixed-a", "fixed-b"} <= keys
    assert "polygon-id" not in keys


def test_refine_drops_cell_false_positives(spark, small_index):
    """A cap query near but not containing SF: candidates may appear at
    cell level; refinement must drop the miss."""
    q = _q(
        spark,
        [("near", "cap", SF[0] + 0.05, SF[1], 1000.0), ("hit", "cap", SF[0], SF[1], 1000.0)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    got = rq.search(spark, small_index, q, refine=True)
    rows = {(r["query_id"], r["key"]) for r in got.collect()}
    assert ("hit", "single-id") in rows
    assert all(qid != "near" for qid, _ in rows)


def test_manifest_resume(spark, small_index):
    """Re-running the build with resume=True must skip all stages.

    verify_source=False is the documented no-scan escape hatch (the
    default now fingerprints the source, so a resume with a DIFFERENT df
    — here an empty one — would correctly rebuild): with it, committed
    stages are reused without the source ever being touched."""
    from rgm.checkpoint import Manifest

    man = Manifest(small_index)
    before = {s: e["committed_utc"] for s, e in man.doc["stages"].items()}
    assert set(before) == {"covers", "keys", "pairs", "postings"}
    # resume build with an EMPTY df: stages committed -> df never touched
    empty = spark.createDataFrame([], "key string, kind string, lat double, lng double")
    man2 = ridx.build_index(
        spark, empty, "key", small_index, bucket=3, max_cells=10,
        resume=True, verify_source=False,
    )
    after = {s: e["committed_utc"] for s, e in man2.doc["stages"].items()}
    assert before == after


def test_key_ids_dense_and_spatially_ordered(spark, small_index):
    keys = ridx.load_keys(spark, small_index).collect()
    ids = sorted(r["key_id"] for r in keys)
    assert ids == list(range(len(keys)))


def test_count_keys_matches_search(spark, small_index):
    q = _q(
        spark,
        [("q1", "cap", SF[0], SF[1], 5000.0), ("q2", "point", 0.5, 0.5, None)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    counted = {r["query_id"]: r["n_keys"] for r in rq.count_keys(spark, small_index, q).collect()}
    searched = (
        rq.search(spark, small_index, q, refine=False)
        .groupBy("query_id").agg(F.countDistinct("key_id").alias("n")).collect()
    )
    searched = {r["query_id"]: r["n"] for r in searched}
    assert counted == searched


def test_tile_assignment_points(spark, small_index):
    pts = spark.createDataFrame(
        [("a", 37.7749, -122.4194), ("b", 37.7750, -122.4195), ("c", 0.5, 0.5)],
        "key string, lat double, lng double",
    )
    tiled = rq.assign_tiles(pts, level=9)
    rows = {r["key"]: r["tile_id"] for r in tiled.collect()}
    want = cm.to_spark(
        cm.latlng_to_cell(np.array([37.7749, 37.7750, 0.5]), np.array([-122.4194, -122.4195, 0.5]), 9)
    )
    assert rows["a"] == want[0] and rows["b"] == want[1] and rows["c"] == want[2]
    assert rows["a"] == rows["b"] != rows["c"]


def test_tiles_for_regions_matches_point_tiles(spark, small_index):
    """Suite G: every point's tile must appear in its covering region's tile set."""
    q = spark.createDataFrame(
        [("r1", "cap", SF[0], SF[1], 3000.0)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    tiles = {r["tile_id"] for r in rq.tiles_for_regions(q, level=13).collect()}
    # sample points inside the cap -> their level-13 tiles must be covered
    rng = np.random.default_rng(5)
    lat = SF[0] + rng.uniform(-0.02, 0.02, 200)
    lng = SF[1] + rng.uniform(-0.025, 0.025, 200)
    from rgm import geo

    m = geo.haversine_m(lat, lng, SF[0], SF[1]) <= 3000.0
    want = cm.to_spark(cm.latlng_to_cell(lat[m], lng[m], 13))
    assert set(want.tolist()) <= tiles


def test_region_payload_intersects_contains(spark, tmp_path):
    """Cap-keyed index: refine_mode='intersects'/'contains' vs numpy oracle
    (the real Intersects the reference stubs at RoaringGeoMapReader.cpp:93-95)."""
    rng = np.random.default_rng(21)
    n = 300
    clat = rng.uniform(32.0, 42.0, n)
    clng = rng.uniform(-115.0, -95.0, n)
    cr = rng.uniform(500.0, 40_000.0, n)
    rows = [
        (f"c{i}", "cap", float(clat[i]), float(clng[i]), float(cr[i])) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "key string, kind string, lat double, lng double, radius_m double"
    )
    out = str(tmp_path / "capidx")
    from rgm import index as ridx

    ridx.build_index(spark, df, "key", out, bucket=1, n_buckets=4)

    qlat, qlng, qr = 37.0, -105.0, 120_000.0
    q = spark.createDataFrame(
        [("q", "cap", qlat, qlng, qr)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    from rgm import geo, query as rq

    d = geo.haversine_m(clat, clng, qlat, qlng)
    want_inter = {f"c{i}" for i in np.nonzero(d <= qr + cr)[0]}
    want_cont = {f"c{i}" for i in np.nonzero(d + cr <= qr)[0]}

    got_inter = {
        r["key"] for r in rq.search(spark, out, q, refine_mode="intersects").collect()
    }
    got_cont = {
        r["key"] for r in rq.search(spark, out, q, refine_mode="contains").collect()
    }
    assert got_inter == want_inter
    assert got_cont == want_cont
    assert want_cont < want_inter  # sanity: contains is strictly stronger


def test_hot_cell_skew_postings(spark, tmp_path_factory):
    """Skew soundness (SURVEY C7): thousands of keys on the SAME leaf cell,
    arriving from many input partitions. The two-phase postings encode
    (partial bitmap per scan split -> merge per cell) must union partials
    exactly: every rollup/origin posting's cardinality equals the number of
    distinct keys on that cell, and a query on the hot point returns all
    keys once each."""
    out = str(tmp_path_factory.mktemp("idx") / "hot")
    n = 3000
    pts = (
        spark.range(n)
        .repartition(8)  # spread the hot cell across many splits
        .select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.lit("point").alias("kind"),
            F.lit(SF[0]).alias("lat"),
            F.lit(SF[1]).alias("lng"),
        )
    )
    ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=4)
    postings = ridx.load_postings(spark, out)
    # every posting row for the hot lineage carries all n keys exactly once
    cards = [r["card"] for r in postings.select("card").collect()]
    assert cards and all(c == n for c in cards), cards
    q = spark.createDataFrame(
        [("q", "point", SF[0], SF[1])],
        "query_id string, kind string, lat double, lng double",
    )
    got = rq.search(spark, out, q, refine=True).select("key").collect()
    keys = sorted(r["key"] for r in got)
    assert keys == sorted(f"k{i}" for i in range(n))
    cnt = rq.count_keys(spark, out, q).collect()
    assert cnt[0]["n_keys"] == n


def test_binary_keys_roundtrip(spark, tmp_path):
    """Reference keys are arbitrary byte sequences (README.md:5-11,
    RoaringGeoMapWriter.h:44); the engine must index and return BinaryType
    keys unchanged — build, search, count, and kNN all typed from the key
    column."""
    rows = [
        (bytes([i, 255 - i, 0, 7]) + b"\x00payload", 30.0 + i * 0.5, -100.0 + i * 0.5)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        [(k, "point", la, ln) for k, la, ln in rows],
        "key binary, kind string, lat double, lng double",
    )
    out = str(tmp_path / "binidx")
    ridx.build_index(spark, df, "key", out, bucket=3, n_buckets=2)

    keys = ridx.load_keys(spark, out)
    assert dict(keys.dtypes)["key"] == "binary"
    got_keys = {bytes(r["key"]) for r in keys.collect()}
    assert got_keys == {k for k, _, _ in rows}

    qdf = spark.createDataFrame(
        [("qa", "cap", 31.0, -99.0, 200_000.0)],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )
    hits = rq.search(spark, out, qdf, refine=True).collect()
    from rgm import geo

    want = {
        k for k, la, ln in rows if geo.haversine_m(la, ln, 31.0, -99.0) <= 200_000.0
    }
    assert {bytes(r["key"]) for r in hits} == want and len(want) > 0

    knn = rq.knn(
        spark,
        out,
        spark.createDataFrame([("k0", 31.0, -99.0)], "query_id string, lat double, lng double"),
        k=3,
        r0_m=50_000,
    ).collect()
    assert len(knn) == 3 and all(isinstance(bytes(r["key"]), bytes) for r in knn)
    # count_keys is the bitmap-union CANDIDATE count (refine=False level)
    cnt = rq.count_keys(spark, out, qdf).collect()
    n_cand = rq.search(spark, out, qdf, refine=False).select("key_id").distinct().count()
    assert cnt[0]["n_keys"] == n_cand >= len(want)


def test_region_payloads_rect_polygon_refinement(spark, tmp_path):
    """Region-vs-region refinement with rect and polygon PAYLOADS (not just
    caps/points): payload geometry round-trips through the index and both
    refine modes dispatch correctly. Expected sets are hand-computed."""
    payloads = spark.createDataFrame(
        [
            ("P1", "rect", None, None, None, 30.0, 31.0, -100.0, -99.0, None),
            ("P2", "polygon", None, None, None, None, None, None, None,
             [[40.0, -90.0], [41.0, -90.0], [40.5, -89.0]]),
            ("P3", "cap", 35.0, -95.0, 50_000.0, None, None, None, None, None),
            ("P4", "point", 20.0, -80.0, None, None, None, None, None, None),
        ],
        "key string, kind string, lat double, lng double, radius_m double, "
        "lat_lo double, lat_hi double, lng_lo double, lng_hi double, "
        "verts array<array<double>>",
    )
    out = str(tmp_path / "regidx")
    ridx.build_index(spark, payloads, "key", out, bucket=3, max_cells=64, n_buckets=2)

    queries = spark.createDataFrame(
        [
            # cap around P1's center, 200 km: contains the whole rect
            ("QC", "cap", 30.5, -99.5, 200_000.0, None, None, None, None, None),
            # rect superset of P1
            ("QR", "rect", None, None, None, 29.0, 32.0, -101.0, -98.0, None),
            # rect overlapping only P1's top half
            ("QR2", "rect", None, None, None, 30.5, 32.0, -101.0, -98.0, None),
            # polygon superset of triangle P2
            ("QP", "polygon", None, None, None, None, None, None, None,
             [[39.5, -91.0], [42.0, -91.0], [42.0, -88.0], [39.5, -88.0]]),
            # polygon overlapping P2 partially
            ("QP2", "polygon", None, None, None, None, None, None, None,
             [[40.25, -92.0], [40.25, -89.5], [41.5, -89.5], [41.5, -92.0]]),
            # tiny cap exactly on point P4
            ("QC4", "cap", 20.0, -80.0, 1_000.0, None, None, None, None, None),
        ],
        "query_id string, kind string, lat double, lng double, radius_m double, "
        "lat_lo double, lat_hi double, lng_lo double, lng_hi double, "
        "verts array<array<double>>",
    )

    inter = {
        (r["query_id"], r["key"])
        for r in rq.search(spark, out, queries, refine=True,
                           refine_mode="intersects").collect()
    }
    cont = {
        (r["query_id"], r["key"])
        for r in rq.search(spark, out, queries, refine=True,
                           refine_mode="contains").collect()
    }
    assert inter == {
        ("QC", "P1"), ("QR", "P1"), ("QR2", "P1"),
        ("QP", "P2"), ("QP2", "P2"), ("QC4", "P4"),
    }
    # P1 fits inside QC (farthest rect corner ~73 km < 200 km) and QR, but
    # only half-overlaps QR2; P2 fits in QP but not QP2; QC4 contains the
    # point payload exactly
    assert cont == {("QC", "P1"), ("QR", "P1"), ("QP", "P2"), ("QC4", "P4")}


def test_chunked_covers_resume(spark, tmp_path):
    """Intra-stage resume (north_rule per-partition lineage): the covers
    stage splits into independently-committed chunks; after a simulated kill
    (downstream stages gone, chunks intact) the resume skips every committed
    chunk (no covering recompute) and the final index is IDENTICAL —
    including key_id assignment — to an unchunked single-shot build."""
    import os
    import shutil

    rows = [(f"k{i}", "point", 25.0 + (i * 37 % 100) * 0.2, -120.0 + (i * 61 % 100) * 0.5)
            for i in range(400)]
    df = spark.createDataFrame(rows, "key string, kind string, lat double, lng double")

    single = str(tmp_path / "single")
    chunked = str(tmp_path / "chunked")
    ridx.build_index(spark, df, "key", single, bucket=3, n_buckets=2)
    ridx.build_index(spark, df, "key", chunked, bucket=3, n_buckets=2, covers_chunks=3)

    def keyset(path):
        return {
            (r["key"], r["key_id"])
            for r in ridx.load_keys(spark, path).select("key", "key_id").collect()
        }

    assert keyset(single) == keyset(chunked)  # chunking doesn't change ids

    # simulated kill after covers: downstream stages lost, chunks committed
    chunk_dirs = [os.path.join(chunked, f"covers.c{i:02d}") for i in range(3)]
    mtimes = {d: os.path.getmtime(d) for d in chunk_dirs}
    for stage in ("keys", "pairs", "postings"):
        shutil.rmtree(os.path.join(chunked, stage))
    ridx.build_index(spark, df, "key", chunked, bucket=3, n_buckets=2, covers_chunks=3)
    assert {d: os.path.getmtime(d) for d in chunk_dirs} == mtimes  # chunks untouched
    assert keyset(single) == keyset(chunked)

    # and a chunk loss rebuilds ONLY that chunk
    shutil.rmtree(chunk_dirs[1])
    for stage in ("keys", "pairs", "postings"):
        shutil.rmtree(os.path.join(chunked, stage))
    ridx.build_index(spark, df, "key", chunked, bucket=3, n_buckets=2, covers_chunks=3)
    assert os.path.getmtime(chunk_dirs[0]) == mtimes[chunk_dirs[0]]
    assert os.path.getmtime(chunk_dirs[2]) == mtimes[chunk_dirs[2]]
    assert keyset(single) == keyset(chunked)


_CAPS = "query_id string, kind string, lat double, lng double, radius_m double"
_POINTS = "key string, kind string, lat double, lng double"


def _counts(df) -> dict:
    return {r["query_id"]: r["n_keys"] for r in df.collect()}


def test_count_keys_driver_and_distributed_finals_agree(spark, tmp_path, monkeypatch):
    """Every query call probes inside its index scan's mapInPandas: no
    BroadcastExchange in the plan of count_keys or candidate_keys. count_keys
    finishes its bitmap union on the driver, in one or many query-disjoint
    chunks, and returns a local result. With the covering on the driver or
    distributed, the counts equal the distinct candidates of
    candidate_keys(mode="range") — the literal range decomposition, which
    shares no code with the probe — and the probe's candidate key set
    equals range mode's. The batch has two ids of one region, nested caps
    that share cells, a query without candidates, and a tiny cap whose
    lattice-ancestor cells meet postings that are all non-origin (rollups
    of other keys) and must not count: a pair counts only if
    ``is_origin | ~is_anc``."""
    from collections import Counter

    rng = np.random.default_rng(17)
    n = 400
    lat = 37.0 + rng.uniform(-0.5, 0.5, n)
    lng = -122.0 + rng.uniform(-0.5, 0.5, n)
    pts = spark.createDataFrame(
        [(f"k{i}", "point", float(lat[i]), float(lng[i])) for i in range(n)], _POINTS
    )
    out = str(tmp_path / "idx")
    ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=4)
    # the grid point farthest from every key, for a cap without candidates
    g_lat, g_lng = (g.reshape(-1) for g in np.meshgrid(np.linspace(36.6, 37.4, 41), np.linspace(-122.4, -121.6, 41)))
    far = np.argmax(np.min(np.hypot(g_lat[:, None] - lat, g_lng[:, None] - lng), axis=1))
    rows = [(f"q{i}", "cap", float(lat[i]), float(lng[i]), 2_000.0 + 1_500.0 * i) for i in range(12)]
    rows += [
        ("dup-a", "cap", float(lat[3]), float(lng[3]), 9_000.0),
        ("dup-b", "cap", float(lat[3]), float(lng[3]), 9_000.0),
        ("nested", "cap", float(lat[5]), float(lng[5]), 1_000.0),
        ("lonely", "cap", float(g_lat[far]), float(g_lng[far]), 30.0),
        ("miss", "cap", -45.0, 100.0, 1_000.0),
    ]
    q = spark.createDataFrame(rows, _CAPS)

    ranged = {tuple(r) for r in rq.candidate_keys(spark, out, q, mode="range").collect()}
    cands = dict(Counter(qid for qid, _ in ranged))
    assert len(cands) == 15 and cands["dup-a"] == cands["dup-b"] and cands["nested"] > 0
    # the tiny cap's ancestor cells do meet postings, all of them non-origin
    planned = rq._plan_query_cells(spark, q, 3, 30)
    lonely = planned[planned["query_id"] == "lonely"]
    met = ridx.load_postings(spark, out).filter(
        F.col("cell_id").isin([int(c) for c in lonely["cell_id"]])
    ).select("cell_id", "is_origin").toPandas()
    assert len(met) and not met["is_origin"].any()
    assert set(met["cell_id"]) <= set(lonely.loc[lonely["is_anc"], "cell_id"])

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    collected = []
    frame_cls = type(q)
    to_pandas = frame_cls.toPandas

    def spy(self):
        collected.append(plan_of(self))
        return to_pandas(self)

    monkeypatch.setattr(frame_cls, "toPandas", spy)
    on_driver = rq.count_keys(spark, out, q)
    assert on_driver._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")
    assert len(collected) == 1 and "MapInPandas" in collected[0]
    assert "BroadcastExchange" not in collected[0]
    monkeypatch.undo()
    got = {"driver": _counts(on_driver)}
    monkeypatch.setattr(rq, "_FINAL_CHUNK_BYTES", 64)  # a chunk per query or two
    got["chunked"] = _counts(rq.count_keys(spark, out, q))
    monkeypatch.setattr(rq, "DRIVER_COVER_ROWS", 2)
    got["distributed cover"] = _counts(rq.count_keys(spark, out, q))
    for path, counts in got.items():
        assert counts == cands, path

    for cover_rows in (4096, 2):
        monkeypatch.setattr(rq, "DRIVER_COVER_ROWS", cover_rows)
        equi = rq.candidate_keys(spark, out, q)
        assert {tuple(r) for r in equi.collect()} == ranged, cover_rows
        assert "MapInPandas" in plan_of(equi)
        assert "BroadcastExchange" not in plan_of(equi)


def test_planner_evaluates_query_rows_once(spark, small_index, monkeypatch):
    """The distributed covering pass runs over the rows the planner already
    collected, not over the caller's lineage again: a Python UDF in the
    batch's lineage sees each row exactly once per count_keys call."""
    seen = spark.sparkContext.accumulator(0)

    def bump(lat):
        seen.add(1)
        return lat

    rows = [(f"q{i}", "cap", SF[0] + 0.01 * i, SF[1], 5_000.0) for i in range(6)]
    q = spark.createDataFrame(rows, _CAPS).withColumn(
        "lat", F.udf(bump, "double").asNondeterministic()(F.col("lat"))
    )
    monkeypatch.setattr(rq, "DRIVER_COVER_ROWS", 2)
    counts = _counts(rq.count_keys(spark, small_index, q))
    assert seen.value == len(rows)
    assert counts and set(counts) <= {r[0] for r in rows}


def test_distributed_query_planner_matches_driver(spark, monkeypatch):
    """BENCH/QUERY_FLOORS.md rep 0 falsified the 'query floors amortize'
    assumption: the all-driver covering kernel (~0.46 ms/cap) is a serial
    component proportional to batch size, pinning query-stage pair
    efficiency at ~0.29 at every batch scale. plan_query_cells now runs the
    kernel via mapInPandas above DRIVER_COVER_ROWS; the exploded frame and
    prune prefixes must be identical either way (same kernel, same cells).
    The batch mixes caps, rects and real 3-vertex [lat, lng] polygon rings."""
    import pandas as pd

    from rgm import query as rq

    n = 64
    q = spark.range(n).selectExpr(
        "concat('q', id) as query_id",
        "case when id % 3 = 0 then 'cap' when id % 3 = 1 then 'rect' else 'polygon' end as kind",
        "cast(10 + id % 40 as double) as lat",
        "cast(-50 + id % 100 as double) as lng",
        "cast(1000 + 100 * (id % 7) as double) as radius_m",
        "cast(10 + id % 40 as double) as lat_lo",
        "cast(11 + id % 40 as double) as lat_hi",
        "cast(-50 + id % 100 as double) as lng_lo",
        "cast(-49 + id % 100 as double) as lng_hi",
        """case when id % 3 = 2 then array(
             array(cast(10 + id % 40 as double), cast(-50 + id % 100 as double)),
             array(cast(10.8 + id % 40 as double), cast(-49.6 + id % 100 as double)),
             array(cast(10.4 + id % 40 as double), cast(-50.8 + id % 100 as double))
           ) end as verts""",
        "cast(null as long) as cell_id",
        "cast(30 as int) as max_cells",
    )

    def plan(threshold):
        monkeypatch.setattr(rq, "DRIVER_COVER_ROWS", threshold)
        cells, prefixes = rq.plan_query_cells(spark, q, bucket=3, max_cells=30)
        pdf = (
            cells.toPandas()
            .sort_values(["query_id", "cell_id", "is_anc"])
            .reset_index(drop=True)
        )
        return pdf, prefixes

    drv, drv_pref = plan(threshold=n + 1)  # all-driver kernel
    dist, dist_pref = plan(threshold=1)  # mapInPandas kernel
    assert drv_pref == dist_pref and len(drv_pref) > 0
    assert len(drv) > 0
    # a ~1 degree triangle covers several cells (a degenerate 1-vertex
    # ring covered one)
    origin = drv.loc[~drv["is_anc"]].groupby("query_id").size()
    assert all(origin.get(f"q{i}", 0) > 1 for i in range(n) if i % 3 == 2)
    pd.testing.assert_frame_equal(drv, dist)


def test_count_keys_empty_batch_is_empty(spark, small_index):
    q = spark.createDataFrame([], _CAPS)
    res = rq.count_keys(spark, small_index, q)
    assert res.collect() == [] and res.columns == ["query_id", "n_keys"]


def test_open_index_schemas_match_inference(spark, small_index):
    """The handle infers each table's schema once; explicit-schema reads
    through it return the same frames as inferring reads."""
    h = ridx.open_index(spark, small_index)
    assert h.bucket == 3
    for table in ridx.INDEX_TABLES:
        inferred = spark.read.parquet(f"{small_index}/{table}").schema
        assert h.read(table).schema == inferred
        assert h.read(table).count() == spark.read.parquet(f"{small_index}/{table}").count()
    assert ridx.open_index(spark, small_index) is h  # cached


def test_index_handle_follows_appends_and_rebuilds(spark, tmp_path, monkeypatch):
    """The handle caches schemas only. Streamed appends add pairs/keys files
    without a manifest commit: the same handle stays open and the next
    search lists and sees the new files. refresh_postings commits, so the
    next count_keys reopens and counts the streamed keys. A rebuild at the
    same path with a different bucket is picked up by the next query."""
    import os

    from rgm import streaming as rstream

    base = [(f"b{i}", "point", 37.0 + 0.01 * i, -122.0) for i in range(20)]
    out = str(tmp_path / "idx")
    ridx.build_index(spark, spark.createDataFrame(base, _POINTS), "key", out, bucket=3, n_buckets=2)
    q = spark.createDataFrame([("all", "cap", 37.1, -122.0, 50_000.0)], _CAPS)

    def keys():
        return {r["key"] for r in rq.search(spark, out, q).collect()}

    h = ridx.open_index(spark, out)
    assert keys() == {k for k, *_ in base}
    assert _counts(rq.count_keys(spark, out, q)) == {"all": 20}

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    new = spark.createDataFrame(
        [(f"s{i}", "point", 37.05 + 0.01 * i, -122.05) for i in range(5)], _POINTS
    )
    new.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(new.schema).parquet(src)
    rstream.stream_index_append(spark, stream, "key", out, str(tmp_path / "ckpt")).awaitTermination(120)

    assert ridx.open_index(spark, out) is h
    assert keys() == {k for k, *_ in base} | {f"s{i}" for i in range(5)}
    ridx.refresh_postings(spark, out, n_buckets=2)
    assert ridx.open_index(spark, out) is not h
    assert _counts(rq.count_keys(spark, out, q)) == {"all": 25}

    seen = []
    plan = rq._plan_query_cells

    def spy(spark_, queries, bucket, max_cells, *args):
        seen.append(bucket)
        return plan(spark_, queries, bucket, max_cells, *args)

    monkeypatch.setattr(rq, "_plan_query_cells", spy)
    ridx.build_index(
        spark, spark.createDataFrame(base, _POINTS), "key", out, bucket=1, n_buckets=2, resume=False
    )
    assert keys() == {k for k, *_ in base}
    assert _counts(rq.count_keys(spark, out, q)) == {"all": 20}
    assert seen == [1, 1]
    assert ridx.open_index(spark, out).bucket == 1



# ---------------------------------------------------------------------------
# kNN: brute-force top-k, scratch lifecycle, read-only index
# ---------------------------------------------------------------------------

_QPTS = "query_id string, lat double, lng double"


def _grid_points(spark, n, mod, lat_div, lng_mul, lng_div):
    rows = [
        (f"p{i}", "point", 30.0 + (i * 37 % mod) / lat_div, -110.0 + (i * lng_mul % mod) / lng_div)
        for i in range(n)
    ]
    return rows, spark.createDataFrame(rows, _POINTS)


def _brute_knn(spark, index_path, rows, queries, k):
    """{(query_id, key, rank)}: numpy haversine top-k over the indexed
    points, ties broken by key_id like knn's window."""
    from rgm import geo

    kid = {r["key"]: r["key_id"] for r in ridx.load_keys(spark, index_path, payload=False).collect()}
    keys = [r[0] for r in rows]
    lat = np.array([r[2] for r in rows])
    lng = np.array([r[3] for r in rows])
    ids = np.array([kid[key] for key in keys])
    want = set()
    for qid, qlat, qlng in queries:
        d = geo.haversine_m(lat, lng, qlat, qlng)
        for rank, j in enumerate(np.lexsort((ids, d))[:k], start=1):
            want.add((qid, keys[j], rank))
    return want


def _knn_set(df):
    return {(r["query_id"], r["key"], r["rank"]) for r in df.collect()}


def test_knn_matches_haversine_topk(spark, tmp_path):
    """24 points against a 400-point index: knn returns exactly the numpy
    haversine top-k per query, in rank order."""
    rows, pts = _grid_points(spark, 400, 500, 50.0, 61, 25.0)
    out = str(tmp_path / "idx")
    ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=4)
    queries = [(f"q{i}", 31.0 + i * 0.37, -108.0 + i * 0.61) for i in range(24)]
    got = _knn_set(rq.knn(spark, out, spark.createDataFrame(queries, _QPTS), k=5, r0_m=50_000))
    assert got == _brute_knn(spark, out, rows, queries, 5) and len(got) == 24 * 5


@pytest.fixture(scope="module")
def knn_points(spark, tmp_path_factory):
    """200 points, each location held by two keys (p{i} and p{i+100}), so
    the top-k has exact distance ties that only key_id orders."""
    rows, pts = _grid_points(spark, 200, 100, 10.0, 53, 10.0)
    out = str(tmp_path_factory.mktemp("knnidx") / "idx")
    ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=2)
    return out, rows


def test_knn_scratch_lifecycle(spark, tmp_path, knn_points):
    """knn leaks no result dirs: none in the system tempdir, the default
    result lives under <index>/_scratch until cleanup_knn_scratch()
    removes it, and an explicit out_path leaves NO scratch behind."""
    import glob
    import os
    import tempfile

    idx, rows = knn_points
    queries = [(f"q{i}", 31.0 + i, -109.0 + i) for i in range(4)]
    qdf = spark.createDataFrame(queries, _QPTS)
    want = _brute_knn(spark, idx, rows, queries, 3)
    assert len(want) == 12

    before_tmp = set(glob.glob(os.path.join(tempfile.gettempdir(), "rgm_knn_*")))
    assert _knn_set(rq.knn(spark, idx, qdf, k=3, r0_m=50_000)) == want
    assert set(glob.glob(os.path.join(tempfile.gettempdir(), "rgm_knn_*"))) == before_tmp
    scratch = glob.glob(os.path.join(idx, "_scratch", "knn-*"))
    assert len(scratch) == 1  # default output, registered for cleanup
    assert rq.cleanup_knn_scratch() >= 1
    assert glob.glob(os.path.join(idx, "_scratch", "knn-*")) == []

    # caller-owned out_path: result lands there, zero scratch remains
    out_path = str(tmp_path / "knn_out")
    assert _knn_set(rq.knn(spark, idx, qdf, k=3, r0_m=50_000, out_path=out_path)) == want
    assert os.path.isdir(out_path)
    assert glob.glob(os.path.join(idx, "_scratch", "knn-*")) == []


def test_knn_read_only_index(spark, tmp_path, monkeypatch):
    """A published (read-only) index stays queryable: scratch falls back
    to the out_path's filesystem (or a tempdir without out_path) instead
    of failing os.makedirs under the index.

    chmod can't simulate read-only for root (CAP_DAC_OVERRIDE), so the
    denial is injected: os.makedirs raises PermissionError for any path
    under the index root, exactly what a read-only mount produces."""
    import os

    rows, pts = _grid_points(spark, 120, 100, 10.0, 53, 10.0)
    out = str(tmp_path / "roidx")
    ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=2)
    queries = [(f"q{i}", 31.0 + i, -109.0 + i) for i in range(4)]
    qdf = spark.createDataFrame(queries, _QPTS)
    want = _brute_knn(spark, out, rows, queries, 3)

    real_makedirs = os.makedirs

    def deny_under_index(path, *a, **kw):
        if os.path.abspath(path).startswith(os.path.abspath(out) + os.sep):
            raise PermissionError(13, "Read-only file system", path)
        return real_makedirs(path, *a, **kw)

    monkeypatch.setattr(os, "makedirs", deny_under_index)
    try:
        out_path = str(tmp_path / "knn_out")
        got = rq.knn(spark, out, qdf, k=3, r0_m=50_000, out_path=out_path)
        assert _knn_set(got) == want
        assert not os.path.exists(os.path.join(out, "_scratch"))
        # the scratch lived (and was removed) beside the caller's out_path
        assert os.path.isdir(out_path)
        # no-out_path fallback: driver-local tempdir (local mode)
        assert _knn_set(rq.knn(spark, out, qdf, k=3, r0_m=50_000)) == want
        assert not os.path.exists(os.path.join(out, "_scratch"))
    finally:
        monkeypatch.undo()
        rq.cleanup_knn_scratch()
