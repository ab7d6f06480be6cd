"""The driver-contract query set: every entry exists twice — as a Spark
job through the engine (``QUERIES``) and, where ANSI-SQL can express the
same semantics, as a DuckDB oracle (``ORACLES``).

Geometry is derived deterministically from the TPC-H-ish testdata with
pure integer/double arithmetic (identical in Spark and DuckDB), never from
external data: each order becomes an image point in the contiguous-US box
the reference benchmarks use (/root/reference/cpp/benchmarks/main.cpp:22-25).

Engine spatial queries go through the full index pipeline (covering UDF ->
lattice equi-join -> exact refinement); oracles are plain geometric SQL.
They agree exactly because refinement applies the same predicates
(SURVEY §5.3/§5.7).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import dedup as rdd
from . import index as ridx
from . import query as rq
from . import similarity as rsim
from . import text as rtext

US = "24.396308"  # lat_lo; shared literal strings keep double math identical
_LAT_EXPR = "24.396308 + ((o_orderkey * 9973) % 100000) / 100000.0 * (49.384358 - 24.396308)"
_LNG_EXPR = "-125.0 + ((o_orderkey * 7919) % 100000) / 100000.0 * (-66.93457 - -125.0)"

# fixed query regions (literals shared with the SQL oracles)
CAPS = [(f"q{i}", 28.0 + i * 2.5, -120.0 + i * 6.0, 30000.0 + i * 20000.0) for i in range(8)]
RECTS = [
    (f"r{i}", 26.0 + i * 2.3, 26.0 + i * 2.3 + 3.1, -122.0 + i * 6.1, -122.0 + i * 6.1 + 4.7)
    for i in range(6)
]
KNN_POINTS = [("k0", 37.7749, -122.4194), ("k1", 40.7128, -74.006),
              ("k2", 34.0522, -118.2437), ("k3", 41.8781, -87.6298)]
KNN_K = 10
TILE_LEVEL = 9
JACCARD_N = 4
JACCARD_T = 0.8
ANN_K = 10
ANN_QUERIES = 4

_HAVERSINE_SQL = (
    "2 * 6371010.0 * asin(sqrt("
    "pow(sin(radians(p.lat - q.qlat) / 2), 2) + "
    "cos(radians(q.qlat)) * cos(radians(p.lat)) * "
    "pow(sin(radians(p.lng - q.qlng) / 2), 2)))"
)


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return orders.select(
        F.col("o_orderkey").cast("string").alias("image_id"),
        F.expr(_LAT_EXPR).alias("lat"),
        F.expr(_LNG_EXPR).alias("lng"),
    )


_PTS_SQL = (
    "SELECT CAST(o_orderkey AS VARCHAR) AS image_id, "
    f"{_LAT_EXPR} AS lat, {_LNG_EXPR} AS lng FROM orders"
)

# cap-payload radius (meters) for the region-keyed index: same shared-literal
# discipline, so Spark refinement and the SQL oracle compute identical doubles
_PRAD_EXPR = "500.0 + ((o_orderkey * 6101) % 100000) / 100000.0 * 40000.0"

_CAPPTS_SQL = (
    "SELECT CAST(o_orderkey AS VARCHAR) AS image_id, "
    f"{_LAT_EXPR} AS lat, {_LNG_EXPR} AS lng, {_PRAD_EXPR} AS radius_m "
    "FROM orders"
)


def _caps_values_sql() -> str:
    rows = ", ".join(f"('{q}', {a!r}, {b!r}, {r!r})" for q, a, b, r in CAPS)
    return f"(VALUES {rows}) AS q(query_id, qlat, qlng, radius)"


def _rects_values_sql() -> str:
    rows = ", ".join(
        f"('{q}', {a!r}, {b!r}, {c!r}, {d!r})" for q, a, b, c, d in RECTS
    )
    return f"(VALUES {rows}) AS q(query_id, lat_lo, lat_hi, lng_lo, lng_hi)"


def _knn_values_sql() -> str:
    rows = ", ".join(f"('{q}', {a!r}, {b!r})" for q, a, b in KNN_POINTS)
    return f"(VALUES {rows}) AS q(query_id, qlat, qlng)"


# ---------------------------------------------------------------------------
# index cache: one build per (sf_dir) per process
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[str, str] = {}


def index_path(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _INDEX_CACHE:
        out = os.path.join(
            tempfile.gettempdir(), "rgm_idx_" + sf_dir.strip("/").replace("/", "_")
        )
        pts = points_df(spark, sf_dir).select(
            F.col("image_id").alias("key"),
            F.lit("point").alias("kind"),
            "lat", "lng",
        )
        ridx.build_index(spark, pts, "key", out, bucket=3, n_buckets=16, resume=True)
        _INDEX_CACHE[sf_dir] = out
    return _INDEX_CACHE[sf_dir]


_REGION_INDEX_CACHE: dict[str, str] = {}


def region_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Cap-keyed index: every order becomes a circular region (center =
    the shared point arithmetic, radius = ``_PRAD_EXPR``). Exercises the
    region-payload covering + region-vs-region refinement path — the real
    Intersects the reference stubs at
    /root/reference/cpp/src/RoaringGeoMapReader.cpp:93-95."""
    if sf_dir not in _REGION_INDEX_CACHE:
        out = os.path.join(
            tempfile.gettempdir(),
            "rgm_regidx_" + sf_dir.strip("/").replace("/", "_"),
        )
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        caps = orders.select(
            F.col("o_orderkey").cast("string").alias("key"),
            F.lit("cap").alias("kind"),
            F.expr(_LAT_EXPR).alias("lat"),
            F.expr(_LNG_EXPR).alias("lng"),
            F.expr(_PRAD_EXPR).alias("radius_m"),
        )
        ridx.build_index(spark, caps, "key", out, bucket=3, n_buckets=16, resume=True)
        _REGION_INDEX_CACHE[sf_dir] = out
    return _REGION_INDEX_CACHE[sf_dir]


def _caps_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(q, "cap", lat, lng, r) for q, lat, lng, r in CAPS],
        "query_id string, kind string, lat double, lng double, radius_m double",
    )


def _rects_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(q, "rect", a, b, c, d) for q, a, b, c, d in RECTS],
        "query_id string, kind string, lat_lo double, lat_hi double, "
        "lng_lo double, lng_hi double",
    )


def _polys_df(spark: SparkSession) -> DataFrame:
    # rectangles expressed as generic 4-vertex polygons: exercises the
    # polygon covering + ray-casting path while staying SQL-checkable
    rows = [
        (q, "polygon", [[a, c], [a, d], [b, d], [b, c]])
        for q, a, b, c, d in RECTS
    ]
    return spark.createDataFrame(
        rows, "query_id string, kind string, verts array<array<double>>"
    )


# ---------------------------------------------------------------------------
# queries (Spark) — each fn(spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def q_spatial_contains_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = index_path(spark, sf_dir)
    out = rq.search(spark, idx, _caps_df(spark), refine=True)
    return out.select("query_id", F.col("key").alias("image_id"))


def q_spatial_contains_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = index_path(spark, sf_dir)
    out = rq.search(spark, idx, _rects_df(spark), refine=True)
    return out.select("query_id", F.col("key").alias("image_id"))


def q_spatial_contains_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = index_path(spark, sf_dir)
    out = rq.search(spark, idx, _polys_df(spark), refine=True)
    return out.select("query_id", F.col("key").alias("image_id"))


def q_spatial_intersects_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-vs-region Intersects under the oracle gate (C2/A21): cap
    payloads indexed, cap queries, exact center-distance refinement
    (d <= q_radius + p_radius)."""
    idx = region_index_path(spark, sf_dir)
    out = rq.search(spark, idx, _caps_df(spark), refine=True, refine_mode="intersects")
    return out.select("query_id", F.col("key").alias("image_id"))


def q_spatial_contains_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-vs-region Contains: query cap fully contains the payload cap
    (d + p_radius <= q_radius)."""
    idx = region_index_path(spark, sf_dir)
    out = rq.search(spark, idx, _caps_df(spark), refine=True, refine_mode="contains")
    return out.select("query_id", F.col("key").alias("image_id"))


def q_spatial_count_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = q_spatial_contains_cap(spark, sf_dir)
    return out.groupBy("query_id").agg(F.count("*").alias("n_keys"))


def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = index_path(spark, sf_dir)
    qdf = spark.createDataFrame(KNN_POINTS, "query_id string, lat double, lng double")
    out = rq.knn(spark, idx, qdf, k=KNN_K, r0_m=20_000)
    # oracle-stable tiebreak: re-rank by (distance, image_id)
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("key").asc())
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", F.col("key").alias("image_id"), "rank")
    )


KNN_BATCH_N = 60
KNN_BATCH_K = 5
_KNNB_LAT = "25.0 + (({i} * 97) % 1000) / 1000.0 * 24.0"
_KNNB_LNG = "-124.0 + (({i} * 53) % 1000) / 1000.0 * 57.0"


def q_spatial_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 60-point kNN batch under the oracle gate (rgm.query.knn: the
    query set is never collected and round state spills to parquet)."""
    idx = index_path(spark, sf_dir)
    qdf = spark.range(KNN_BATCH_N).select(
        F.concat(F.lit("k"), F.col("id")).alias("query_id"),
        F.expr(_KNNB_LAT.format(i="id")).alias("lat"),
        F.expr(_KNNB_LNG.format(i="id")).alias("lng"),
    )
    out = rq.knn(spark, idx, qdf, k=KNN_BATCH_K, r0_m=20_000)
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("key").asc())
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", F.col("key").alias("image_id"), "rank")
    )


def q_dedup_minhash_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production wrapper (exact-dup collapse -> capped MinHash-LSH):
    pairs are between min-id representatives of distinct texts."""
    from . import pipeline as rpl

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rpl.minhash_dedup(docs, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_T)


def q_tile_assign_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_df(spark, sf_dir)
    return pts.select(
        "image_id",
        (
            F.floor((F.col("lat") - 24.0) / 0.5) * 200
            + F.floor((F.col("lng") + 125.0) / 0.5)
        ).cast("long").alias("tile_id"),
    )


def q_tile_assign_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_df(spark, sf_dir)
    return rq.assign_tiles(pts, TILE_LEVEL).select("image_id", "tile_id")


def q_tile_counts_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = q_tile_assign_s2(spark, sf_dir)
    return tiles.groupBy("tile_id").agg(F.count("*").alias("n_images"))


def q_tiles_for_regions_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.tiles_for_regions(_caps_df(spark), level=TILE_LEVEL)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "n_copies")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rdd.ngram_jaccard_pairs(docs, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_T)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rdd.minhash_lsh_pairs(
        docs, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_T, verify=True
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rdd.simhash_pairs(docs, "doc_id", "text", max_hamming=6)


EMB_THRESHOLD = 0.45
EMB_TABLES = 8
EMB_BITS = 4
EMB_DIM = 64
EMB_SEED = 11

IVF_N_CELLS = 16
IVF_NPROBE = 4
IVF_ITERS = 5
IVF_SAMPLE = 65_536

# image near-dup corpus: IMG_DEDUP_N deterministic base images plus a
# planted perturbed variant for every IMG_DEDUP_EVERY-th base (500 images
# total) — synthesized identically by the Spark query
# (rgm.imagededup.images_with_variants) and the oracle fixture
# (tools/make_fixtures.image_phash_fixture)
IMG_DEDUP_N = 400
IMG_DEDUP_EVERY = 4
IMG_DEDUP_MAXHAM = 6

# media (audio/video) driver queries: deterministic WAV / Y4M payloads
# keyed by documents.doc_id, stats re-derived by DECODING the container
# bytes after a real distributed encode pipe (rgm.images WAV/Y4M codecs)
AUDIO_N = 200       # doc_id < AUDIO_N rows carry a WAV payload
AUDIO_RATE = 8000
VIDEO_N = 150       # doc_id < VIDEO_N rows carry a Y4M payload
VIDEO_FPS = 5
VIDEO_WH = 16


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return rdd.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=EMB_THRESHOLD,
        n_tables=EMB_TABLES, bits_per_table=EMB_BITS, seed=EMB_SEED, dim=EMB_DIM,
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    out = rsim.brute_topk(emb, queries, ANN_K)
    return out.select("query_id", "vec_id", "rank")


_IVF_CACHE: dict[tuple[str, bool], str] = {}


def ivf_index_path(spark: SparkSession, sf_dir: str, quantize: bool = False) -> str:
    """Materialized IVF index per sf_dir (built once per process) —
    the driver query exercises the full build -> manifest -> probe
    lifecycle, not the inline recompute variant. ``quantize=True`` builds
    a SEPARATE index directory carrying the int8 ``vec_q`` column (the
    manifest params differ, so the fingerprinted resume would rebuild
    anyway — distinct dirs keep both variants committed side by side)."""
    ck = (sf_dir, quantize)
    if ck not in _IVF_CACHE:
        tag = "rgm_ivfq_" if quantize else "rgm_ivf_"
        out = os.path.join(
            tempfile.gettempdir(), tag + sf_dir.strip("/").replace("/", "_")
        )
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        emb = emb.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        rsim.build_ivf_index(
            spark, emb, out, n_cells=IVF_N_CELLS, iters=IVF_ITERS,
            sample_rows=IVF_SAMPLE, resume=True, quantize=quantize,
        )
        _IVF_CACHE[ck] = out
    return _IVF_CACHE[ck]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOTE: the DuckDB oracle's centroid fixture is trained on the sf0.01
    embeddings — the sf the driver correctness gate runs at. At any other
    sf the engine trains on the corpus it is given (correct behavior) and
    so cannot match the pinned fixture (ADVICE r3 #4); tools/checkoracle.py
    skips the comparison there."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("q_embedding"),
    )
    idx = ivf_index_path(spark, sf_dir)
    return rsim.ivf_search(spark, idx, queries, ANN_K, nprobe=IVF_NPROBE).select(
        "query_id", "vec_id", "rank"
    )


def q_ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int8-quantized IVF scan path (r4 verdict Missing #3's 100 TB
    lever) under the SAME oracle as the flat path: the candidate pass
    scans only the scalar-quantized ``vec_q`` column (8x fewer corpus
    bytes, parquet-pruned), keeps top k*alpha per query, and exact-reranks
    the survivors against the float vectors — so whenever the true top-k
    survive the quantized cut (alpha=4 gives a 30-candidate margin at
    k=10) the result is BIT-IDENTICAL to flat IVF, and the flat oracle
    (fixtures/ivf_centroids.parquet probe re-executed in DuckDB) verifies
    the whole quantize -> prune -> rerank pipeline end to end. Same sf
    pinning caveat as q_ann_ivf_topk."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("q_embedding"),
    )
    idx = ivf_index_path(spark, sf_dir, quantize=True)
    return rsim.ivf_search(
        spark, idx, queries, ANN_K, nprobe=IVF_NPROBE, quantized=True
    ).select("query_id", "vec_id", "rank")


def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image near-dup under the oracle gate: synthesize the
    planted-variant corpus distributed, re-derive every phash from the
    ENCODED bytes (decode -> luma means -> hash, Arrow-batched
    mapInPandas), then the exact pigeonhole Hamming-banded pair join.
    The corpus is sf-independent (deterministic synthetic images — the
    driver runs this at sf0.01; the fixture holds the same 500 hashes);
    the oracle brute-forces ALL pairs with popcount, so the banded
    candidate generation is verified independently."""
    from . import imagededup as rid

    imgs = rid.images_with_variants(spark, IMG_DEDUP_N, IMG_DEDUP_EVERY)
    return rid.image_neardup_pairs(imgs, max_hamming=IMG_DEDUP_MAXHAM)


def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio column under the oracle gate: per-doc deterministic
    two-tone PCM -> REAL WAV container encode (RIFF/PCM16,
    rgm.images.encode_wav) -> distributed decode (audio_features) -> frame
    count / rate / duration. The oracle computes the same stats in pure
    SQL arithmetic from doc_id alone — fully independent of the codec —
    so a hash match proves the container round trip is sample-exact."""
    import pandas as pd

    from . import images as rim

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < AUDIO_N)
        .select("doc_id")
        .repartition(8)
    )

    def gen(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2000 + (did % 8) * 500
                pcm = rim.synth_audio(did, n, AUDIO_RATE)
                out.append((str(did), rim.encode_wav(pcm, AUDIO_RATE), "wav"))
            yield pd.DataFrame(out, columns=["key", "bytes", "fmt"])

    wav = docs.mapInPandas(gen, "key string, bytes binary, fmt string")
    return rim.audio_features(wav).select(
        F.col("key").cast("long").alias("doc_id"),
        "n_samples", "sample_rate", "duration_s",
    )


def q_media_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video column under the oracle gate: per-doc deterministic
    frame stack -> REAL Y4M container encode (YUV4MPEG2/Cmono,
    rgm.images.encode_y4m) -> distributed decode (video_features) -> frame
    count / fps / duration / mean luma. The oracle's mean_luma comes from
    a fixture computed DIRECTLY on the raw frames (numpy, no container —
    tools/make_fixtures.video_luma_fixture), so a hash match proves the
    encode -> write -> decode pipe is frame-exact."""
    import pandas as pd

    from . import images as rim

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < VIDEO_N)
        .select("doc_id")
        .repartition(8)
    )

    def gen(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = rim.synth_video(did, 6 + did % 10, VIDEO_WH, VIDEO_WH)
                out.append((str(did), rim.encode_y4m(frames, fps=VIDEO_FPS), "y4m"))
            yield pd.DataFrame(out, columns=["key", "bytes", "fmt"])

    vids = docs.mapInPandas(gen, "key string, bytes binary, fmt string")
    return rim.video_features(vids).select(
        F.col("key").cast("long").alias("doc_id"),
        "n_frames", "fps", "duration_s", "mean_luma",
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rtext.text_stats(docs, "doc_id", "text")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rtext.quality_score(docs, "doc_id", "text")


def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rtext.token_count_bpe(docs, "doc_id", "text")


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rtext.lang_id(docs, "doc_id", "text")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return rtext.fingerprint(docs, "doc_id", "text")


def q_rel_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


def q_rel_order_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_total"),
            F.max("o_totalprice").alias("max_total"),
        )
    )


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("running_milli"),
    )


QUERIES = {
    "spatial_contains_cap": q_spatial_contains_cap,
    "spatial_contains_rect": q_spatial_contains_rect,
    "spatial_contains_polygon": q_spatial_contains_polygon,
    "spatial_intersects_region": q_spatial_intersects_region,
    "spatial_contains_region": q_spatial_contains_region,
    "spatial_count_cap": q_spatial_count_cap,
    "spatial_knn": q_spatial_knn,
    "spatial_knn_batch": q_spatial_knn_batch,
    "tile_assign_grid": q_tile_assign_grid,
    "tile_assign_s2": q_tile_assign_s2,
    "tile_counts_s2": q_tile_counts_s2,
    "tiles_for_regions_s2": q_tiles_for_regions_s2,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_pipeline": q_dedup_minhash_pipeline,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_image_phash": q_dedup_image_phash,
    "media_audio_stats": q_media_audio_stats,
    "media_video_stats": q_media_video_stats,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_topk_q": q_ann_ivf_topk_q,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "text_tokens_bpe": q_text_tokens_bpe,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "rel_lineitem_agg": q_rel_lineitem_agg,
    "rel_order_segments": q_rel_order_segments,
    "events_window": q_events_window,
}


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL on the registered parquet views)
# ---------------------------------------------------------------------------

_GRAMS_SQL = f"""
grams AS (
  SELECT DISTINCT d.doc_id, substring(d.text, g.i, {JACCARD_N}) AS gram
  FROM documents d, generate_series(1, 4096) g(i)
  WHERE g.i <= greatest(length(d.text) - {JACCARD_N - 1}, 1)
    AND length(substring(d.text, g.i, {JACCARD_N})) = {JACCARD_N}
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
"""

_JACCARD_SQL = f"""
WITH {_GRAMS_SQL}
SELECT id_a, id_b, n_inter / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n + sb.n - n_inter) >= {JACCARD_T}
"""

# ---------------------------------------------------------------------------
# fixture-backed and mirror oracles for the engine-defined operators
# (S2 cell math / xxhash64 sketches / LSH banks DuckDB cannot compute):
# see tools/make_fixtures.py for what each fixture is and how independent
# it is of the Spark execution path.
# ---------------------------------------------------------------------------

_FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)
_TILE_FIX = os.path.join(_FIXDIR, "tile_assign_l9.parquet")
_REGT_FIX = os.path.join(_FIXDIR, "region_tiles_l9.parquet")
_TEXT_FIX = os.path.join(_FIXDIR, "text_hashes.parquet")
_IMG_FIX = os.path.join(_FIXDIR, "image_phash.parquet")
_VID_FIX = os.path.join(_FIXDIR, "video_luma.parquet")


def _emb_lsh_oracle_sql() -> str:
    """DuckDB mirror of embedding_neardup_pairs: the SAME hyperplane bank
    (rgm.dedup.hyperplanes, seeded) embedded as double literals, the same
    banded candidate join, the same exact-cosine verify. An independent
    re-execution of the deterministic algorithm — recall/precision of LSH
    itself is covered by pytest against brute force."""
    from .dedup import hyperplanes

    planes = hyperplanes(EMB_TABLES, EMB_BITS, EMB_DIM, EMB_SEED)
    tables = []
    for t in range(EMB_TABLES):
        bits = []
        for i in range(EMB_BITS):
            lit = "[" + ", ".join(repr(float(x)) for x in planes[t, i]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {lit}) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        tables.append(
            f"SELECT vec_id, v, {t} AS tbl, " + " + ".join(bits) + " AS sig FROM e"
        )
    sigs = " UNION ALL ".join(tables)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS ({sigs}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM sigs a JOIN sigs b
        ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT id_a, id_b,
             list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
               AS cosine
      FROM cand
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {EMB_THRESHOLD}
    """


# trained-centroid IVF oracle: centroids come from the committed fixture
# (tools/make_fixtures.ivf_centroids_fixture — same deterministic k-means
# the engine's build_ivf_index runs); DuckDB then re-executes assignment,
# probe and ranking from those constants, mirroring the materialized index
_IVF_FIX = os.path.join(_FIXDIR, "ivf_centroids.parquet")

_IVF_ORACLE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT ci, c::DOUBLE[] AS c FROM read_parquet('{_IVF_FIX}')
),
vc AS (
  SELECT e.vec_id, e.v, cents.ci,
         list_dot_product(e.v, cents.c)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.c, cents.c)))
           AS cos
  FROM e, cents
),
assign AS (
  SELECT vec_id, v, ci AS cell FROM (
    SELECT vc.*, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, ci ASC) AS rn FROM vc
  ) WHERE rn = 1
),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {ANN_QUERIES}),
qc AS (
  SELECT qs.qid, qs.qv, cents.ci,
         list_dot_product(qs.qv, cents.c)
           / (sqrt(list_dot_product(qs.qv, qs.qv)) * sqrt(list_dot_product(cents.c, cents.c)))
           AS cos
  FROM qs, cents
),
probe AS (
  SELECT qid, qv, ci AS cell FROM (
    SELECT qc.*, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY cos DESC, ci ASC) AS rn FROM qc
  ) WHERE rn <= 4
),
cand AS (
  SELECT probe.qid, probe.qv, assign.vec_id, assign.v
  FROM probe JOIN assign USING (cell)
),
ranked AS (
  SELECT CAST(qid AS VARCHAR) AS query_id, vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY list_dot_product(v, qv)
                      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                    DESC,
                    vec_id ASC
         ) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= {ANN_K}
"""

ORACLES = {
    "spatial_contains_cap": f"""
        WITH pts AS ({_PTS_SQL})
        SELECT q.query_id, p.image_id
        FROM pts p, {_caps_values_sql()}
        WHERE {_HAVERSINE_SQL} <= q.radius
    """,
    "spatial_contains_rect": f"""
        WITH pts AS ({_PTS_SQL})
        SELECT q.query_id, p.image_id
        FROM pts p, {_rects_values_sql()}
        WHERE p.lat >= q.lat_lo AND p.lat <= q.lat_hi
          AND p.lng >= q.lng_lo AND p.lng <= q.lng_hi
    """,
    "spatial_contains_polygon": f"""
        WITH pts AS ({_PTS_SQL})
        SELECT q.query_id, p.image_id
        FROM pts p, {_rects_values_sql()}
        WHERE p.lat >= q.lat_lo AND p.lat <= q.lat_hi
          AND p.lng >= q.lng_lo AND p.lng <= q.lng_hi
    """,
    # region-vs-region: payload caps from the shared center+radius literals;
    # predicates mirror rgm/udfs.py region_refine (d <= qr+pr / d+pr <= qr)
    # with identical double grouping (x2 scalings are exact, so the
    # haversine product rounds identically under either factor order)
    "spatial_intersects_region": f"""
        WITH pts AS ({_CAPPTS_SQL})
        SELECT q.query_id, p.image_id
        FROM pts p, {_caps_values_sql()}
        WHERE {_HAVERSINE_SQL} <= q.radius + p.radius_m
    """,
    "spatial_contains_region": f"""
        WITH pts AS ({_CAPPTS_SQL})
        SELECT q.query_id, p.image_id
        FROM pts p, {_caps_values_sql()}
        WHERE {_HAVERSINE_SQL} + p.radius_m <= q.radius
    """,
    "spatial_count_cap": f"""
        WITH pts AS ({_PTS_SQL})
        SELECT q.query_id, count(*) AS n_keys
        FROM pts p, {_caps_values_sql()}
        WHERE {_HAVERSINE_SQL} <= q.radius
        GROUP BY q.query_id
    """,
    "spatial_knn": f"""
        WITH pts AS ({_PTS_SQL}), ranked AS (
          SELECT q.query_id, p.image_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_HAVERSINE_SQL} ASC, p.image_id ASC
                 ) AS rank
          FROM pts p, {_knn_values_sql()}
        )
        SELECT query_id, image_id, rank FROM ranked WHERE rank <= {KNN_K}
    """,
    # the distributed-kNN batch: same brute-force ranking oracle as
    # spatial_knn, query points derived from the shared literal arithmetic
    "spatial_knn_batch": f"""
        WITH pts AS ({_PTS_SQL}),
        q AS (
          SELECT 'k' || CAST(i AS VARCHAR) AS query_id,
                 {_KNNB_LAT.format(i="i")} AS qlat,
                 {_KNNB_LNG.format(i="i")} AS qlng
          FROM range({KNN_BATCH_N}) t(i)
        ),
        ranked AS (
          SELECT q.query_id, p.image_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_HAVERSINE_SQL} ASC, p.image_id ASC
                 ) AS rank
          FROM pts p, q
        )
        SELECT query_id, image_id, rank FROM ranked WHERE rank <= {KNN_BATCH_K}
    """,
    "tile_assign_grid": f"""
        WITH pts AS ({_PTS_SQL})
        SELECT image_id,
               CAST(floor((lat - 24.0) / 0.5) * 200
                    + floor((lng + 125.0) / 0.5) AS BIGINT) AS tile_id
        FROM pts
    """,
    # S2 tile oracles: golden tiles computed by the token-validated numpy
    # cellmath kernel (tools/make_fixtures.py), joined by order key — checks
    # the full Spark path (lat/lng exprs -> Arrow tile UDF -> aggregation)
    "tile_assign_s2": f"""
        SELECT CAST(o.o_orderkey AS VARCHAR) AS image_id, t.tile_id
        FROM orders o
        JOIN read_parquet('{_TILE_FIX}') t ON o.o_orderkey = t.o_orderkey
    """,
    "tile_counts_s2": f"""
        SELECT t.tile_id, count(*) AS n_images
        FROM orders o
        JOIN read_parquet('{_TILE_FIX}') t ON o.o_orderkey = t.o_orderkey
        GROUP BY t.tile_id
    """,
    "tiles_for_regions_s2": f"""
        SELECT query_id, tile_id FROM read_parquet('{_REGT_FIX}')
    """,
    "dedup_exact": """
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "dedup_ngram_jaccard": _JACCARD_SQL,
    # production wrapper oracle: exact n-gram Jaccard over the min-id
    # representative of each DISTINCT text (the wrapper's exact-dup
    # collapse). The wrapper's bucket cap (65536) cannot trip here — band
    # buckets hash into 2^64 space and the corpus is collapse-deduped — so
    # the uncapped SQL is the exact mirror; recall of banding itself is
    # the same 2e-4 S-curve bound as dedup_minhash_lsh
    "dedup_minhash_pipeline": f"""
        WITH reps AS (
          SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
        ),
        grams AS (
          SELECT DISTINCT d.doc_id, substring(d.text, g.i, {JACCARD_N}) AS gram
          FROM reps d, generate_series(1, 4096) g(i)
          WHERE g.i <= greatest(length(d.text) - {JACCARD_N - 1}, 1)
            AND length(substring(d.text, g.i, {JACCARD_N})) = {JACCARD_N}
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM grams a JOIN grams b USING (gram)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT id_a, id_b, n_inter / (sa.n + sb.n - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= {JACCARD_T}
    """,
    # MinHash-LSH is deterministic (seeded params, xxhash64); at 16 bands x
    # 4 rows a j>=0.8 pair is missed with prob ~2e-4, and on this corpus the
    # LSH output EQUALS the exact n-gram Jaccard join (verified at every sf)
    # — so the exact join is a valid independent oracle for the full
    # three-stage pipeline
    "dedup_minhash_lsh": _JACCARD_SQL,
    # SimHash values recomputed execution-independently (pure-numpy XXH64 in
    # the fixture); the oracle then brute-forces ALL pairs with popcount —
    # the banded candidate join is exact by pigeonhole, so brute force is
    # the right independent check
    "dedup_simhash": f"""
        WITH s AS (
          SELECT d.doc_id, f.simhash
          FROM documents d
          JOIN read_parquet('{_TEXT_FIX}') f ON md5(d.text) = f.text_md5
          WHERE f.simhash IS NOT NULL
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
    "dedup_embedding": _emb_lsh_oracle_sql(),
    # phash values recomputed execution-independently through the shared
    # deterministic codec round trip (tools/make_fixtures.image_phash_fixture
    # — the IVF-centroid precedent); the oracle brute-forces ALL pairs with
    # popcount, so it independently verifies the banded candidate join
    # (exact by pigeonhole: distance <= 6 < 8 chunks implies a shared chunk)
    "dedup_image_phash": f"""
        WITH s AS (SELECT image_id, phash FROM read_parquet('{_IMG_FIX}'))
        SELECT a.image_id AS id_a, b.image_id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM s a JOIN s b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {IMG_DEDUP_MAXHAM}
    """,
    "ann_ivf_topk": _IVF_ORACLE_SQL,
    # the quantized path exact-reranks survivors, so the flat oracle is the
    # correct (and strictest) check: any recall loss from the int8 candidate
    # cut shows up as a hash mismatch
    "ann_ivf_topk_q": _IVF_ORACLE_SQL,
    # pure-arithmetic mirror, codec-independent: any WAV header/payload
    # corruption breaks n_samples/duration equality
    "media_audio_stats": f"""
        SELECT doc_id,
               CAST(2000 + (doc_id % 8) * 500 AS BIGINT) AS n_samples,
               CAST({AUDIO_RATE} AS INTEGER) AS sample_rate,
               (2000 + (doc_id % 8) * 500) / CAST({AUDIO_RATE} AS DOUBLE) AS duration_s
        FROM documents WHERE doc_id < {AUDIO_N}
    """,
    # mean_luma from the raw-frame fixture (no container): hash equality
    # proves the Y4M encode -> decode pipe is frame-exact
    "media_video_stats": f"""
        SELECT d.doc_id,
               f.n_frames, f.fps,
               f.n_frames / CAST(f.fps AS DOUBLE) AS duration_s,
               f.mean_luma
        FROM documents d
        JOIN read_parquet('{_VID_FIX}') f ON f.vid = d.doc_id
        WHERE d.doc_id < {VIDEO_N}
    """,
    "text_fingerprint": f"""
        SELECT d.doc_id, f.fingerprint
        FROM documents d
        JOIN read_parquet('{_TEXT_FIX}') f ON md5(d.text) = f.text_md5
    """,
    "ann_cosine_topk": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT CAST(vec_id AS VARCHAR) AS query_id, embedding::DOUBLE[] AS qe
              FROM embeddings WHERE vec_id < {ANN_QUERIES}),
        ranked AS (
          SELECT q.query_id, v.vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(v.e, q.qe)
                            / (sqrt(list_dot_product(v.e, v.e))
                               * sqrt(list_dot_product(q.qe, q.qe))) DESC,
                            v.vec_id ASC
                 ) AS rank
          FROM v, q
        )
        SELECT query_id, vec_id, rank FROM ranked WHERE rank <= {ANN_K}
    """,
    "text_stats": r"""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
          CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
               AS BIGINT) AS n_punct,
          (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
            / greatest(length(text), 1) AS punct_ratio,
          CAST(CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END) > 0
            THEN (length(text) - (length(text) - length(regexp_replace(text, '\s', '', 'g'))))
                 * 1.0 / (CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END)
            ELSE 0.0 END AS DOUBLE) AS mean_tok_len
        FROM documents
    """,
    "text_quality": r"""
        WITH s AS (
          SELECT doc_id,
            length(text) AS n_chars,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
            length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
            length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_spaces
          FROM documents
        ), feats AS (
          SELECT doc_id, n_chars, n_tokens,
            n_punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
            CASE WHEN n_tokens > 0
                 THEN (n_chars - n_spaces) * 1.0 / n_tokens
                 ELSE 0.0 END AS mean_tok_len
          FROM s
        )
        SELECT doc_id,
          ((CASE WHEN n_chars >= 20 AND n_chars <= 20000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
        FROM feats
    """,
    "text_tokens_bpe": r"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
    # argmax stopword-occurrence language heuristic; winner selection mirrors
    # Spark's array_max over struct(score, hits, lang): occ desc, distinct
    # hits desc, lang string desc
    "text_lang_id": r"""
        WITH lex(lang, word) AS (VALUES
          ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
          ('en','is'),('en','that'),('en','for'),('en','with'),('en','are'),
          ('de','der'),('de','die'),('de','und'),('de','das'),('de','ist'),
          ('de','nicht'),('de','mit'),('de','ein'),('de','zu'),('de','den'),
          ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','des'),
          ('fr','est'),('fr','pas'),('fr','pour'),('fr','que'),('fr','une'),
          ('es','el'),('es','la'),('es','los'),('es','las'),('es','es'),
          ('es','no'),('es','por'),('es','con'),('es','una'),('es','para')),
        words AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
          FROM documents
        ),
        langs AS (SELECT DISTINCT lang FROM lex),
        per AS (
          SELECT d.doc_id, l.lang,
                 count(x.w) AS occ,
                 count(DISTINCT x.w) AS hits
          FROM (SELECT DISTINCT doc_id FROM documents) d
          CROSS JOIN langs l
          LEFT JOIN (
            SELECT words.doc_id, lex.lang, words.w
            FROM words JOIN lex ON words.w = lex.word
          ) x ON x.doc_id = d.doc_id AND x.lang = l.lang
          GROUP BY d.doc_id, l.lang
        ),
        ranked AS (
          SELECT doc_id, lang, occ,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY occ DESC, hits DESC, lang DESC
                 ) AS rn
          FROM per
        )
        SELECT doc_id,
               CASE WHEN occ > 0 THEN lang ELSE 'und' END AS pred_lang,
               CAST(occ AS BIGINT) AS lang_score
        FROM ranked WHERE rn = 1
    """,
    "rel_lineitem_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "rel_order_segments": """
        SELECT c_mktsegment, count(*) AS n_orders,
               min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    # CAST the window sum: DuckDB widens SUM(BIGINT) to HUGEINT, which the
    # driver's type-sensitive hash would flag even though values are equal
    "events_window": """
        SELECT event_id, user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn,
               CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS running_milli
        FROM events
    """,
}
