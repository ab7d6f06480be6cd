"""Query serving: Contains / Intersects / kNN / tile assignment.

Re-expresses the reference reader's probe pipeline
(/root/reference/cpp/src/RoaringGeoMapReader.cpp:39-91) as DataFrame joins
(SURVEY §3.3). The hierarchy-containment match is decomposed into pure
equi-joins (SURVEY §7.3 strategy (a)): the index stores every cover cell's
lattice ancestors, so

    join1: query origin cells  vs ALL index rows      (index finer-or-equal)
    join2: query ancestor cells vs index ORIGIN rows  (index coarser)

both on ``cell_id`` — one physical join with a residual condition. The
query side is a covering of the (small) query batch, so Catalyst broadcasts
it; the big pairs table is never shuffled. A coarse ``cell_l3`` IN-list
derived from the query covering is pushed into the Parquet scan for
row-group pruning — the Spark analog of the reference's SuRF prefilter +
block-max index (A7/A8/A12). ``count_keys`` of a driver-planned batch
does the same match without a join: the postings scan's mapInPandas looks
each posting row's cell up in the covering it carries in its closure.

Cell-level matches are a sound superset; ``refine=True`` applies the exact
geometry predicate (rgm.geo) to survivors, making results equal to the
brute-force oracle (reference C1 north_star semantics).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cellmath as cm
from . import bitmap as bm
from .index import PARENT3_EXPR, _ensure_region_cols, load_keys, open_index
from .udfs import REGION_COLS, make_cover_udf, make_tile_udf, refine_udf


def _cover_queries(queries: DataFrame, bucket: int, max_cells: int) -> DataFrame:
    """queries (query_id + region cols) -> + cells / ancs arrays."""
    q = _ensure_region_cols(queries, max_cells)
    cover_udf = make_cover_udf(bucket)
    return q.withColumn("qcov", cover_udf(*[F.col(c) for c in REGION_COLS]))


# query batches up to this size are planned driver-side: the covering runs
# as one small job and the exploded cell list and the level-3 prune
# prefixes are built with numpy in driver memory (a broadcast join needs
# the query side there anyway). count_keys probes the cell list inside its
# postings scan; search makes it a local DataFrame for the broadcast join.
# This is the planner's only batch-size split: knn and
# similarity.ivf_search run one distributed path at every batch size
SMALL_QUERY_ROWS = 100_000

# ...but the covering KERNEL only runs on the driver below this row count.
# BENCH/QUERY_FLOORS.md rep 0 measured the all-driver planner at ~0.46 ms
# per cap query (14.9s serial at 32k caps), flat in cores — it pinned the
# query stages' N→4N pair efficiency at ~0.29 regardless of batch size.
# Above the threshold the kernel runs as one mapInPandas pass at default
# parallelism and only the exploded (query_id, cell_id) frame returns to
# the driver; below it, one ~2s Spark job floor would cost more than the
# serial kernel saves.
DRIVER_COVER_ROWS = 4096

# count_keys batches up to this size finish their bitmap union on the
# driver. Timed against the distributed final on the same plan (25k-point
# clustered index, local[4], 4 vCPU, 0.5-3 km and 5-30 km caps): as fast
# or faster at 4,200 and 32,768 caps, 8-12% slower at 100,000 caps (driver
# memory equal either way: planning the batch dominates it).
DRIVER_FINAL_ROWS = 32_768

# count_keys' driver-side final unions its collected partial bitmaps in
# query-disjoint chunks of about this many bitmap bytes, a few chunks at a
# time on threads (the numpy decode and sort release the GIL). On 32k wide
# caps (35 MB of partials, 4 vCPU) one serial union took 2.0 s and 0.96 GB
# of RSS; 16 chunks on 4 threads took 0.8 s and 0.44 GB.
_FINAL_CHUNK_BYTES = 2 << 20

_Q_CELLS_SCHEMA = "query_id string, cell_id long, is_anc boolean, q_l3 long"
_COUNT_SCHEMA = "query_id string, n_keys long"
_NUM_REGION_COLS = ("lat", "lng", "radius_m", "lat_lo", "lat_hi", "lng_lo", "lng_hi")


def _explode_covers(qids: np.ndarray, cov: pd.DataFrame) -> pd.DataFrame:
    """Covering kernel output (cells/ancs lists per query) -> flat
    (query_id, cell_id, is_anc, q_l3) frame. Shared by the driver-side
    planner and the distributed mapInPandas worker."""
    lens_c = np.array([len(x) for x in cov["cells"]], dtype=np.int64)
    lens_a = np.array([len(x) for x in cov["ancs"]], dtype=np.int64)
    cid = np.concatenate(
        [np.concatenate([np.asarray(x, dtype=np.int64) for x in cov["cells"]])
         if lens_c.sum() else np.empty(0, np.int64),
         np.concatenate([np.asarray(x, dtype=np.int64) for x in cov["ancs"]])
         if lens_a.sum() else np.empty(0, np.int64)]
    )
    qid = np.concatenate([np.repeat(qids, lens_c), np.repeat(qids, lens_a)])
    anc = np.concatenate(
        [np.zeros(int(lens_c.sum()), bool), np.ones(int(lens_a.sum()), bool)]
    )
    cells_u = cm.from_spark(cid)
    l3 = (
        cm.to_spark(cm.parent(cells_u, np.full(len(cells_u), 3)))
        if len(cells_u) else np.empty(0, np.int64)
    )
    return pd.DataFrame({"query_id": qid, "cell_id": cid, "is_anc": anc, "q_l3": l3})


def _covers_distributed(
    spark: SparkSession, q: DataFrame, bucket: int
) -> pd.DataFrame:
    """Run the covering kernel over the query batch as ONE mapInPandas pass
    at default parallelism and collect only the exploded cell frame. The
    query batch is still broadcast-regime small (<= SMALL_QUERY_ROWS), so
    the result lands in driver memory exactly as the all-driver path's and
    everything downstream of the planner is the same."""
    from .udfs import compute_covers

    n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
    sel = q.select("query_id", *REGION_COLS).repartition(n_parts)

    def worker(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            for c in _NUM_REGION_COLS:
                pdf[c] = pd.to_numeric(pdf[c], errors="coerce")
            cov = compute_covers(
                pdf["kind"], pdf["lat"], pdf["lng"], pdf["radius_m"],
                pdf["lat_lo"], pdf["lat_hi"], pdf["lng_lo"], pdf["lng_hi"],
                pdf["verts"], pdf["cell_id"], pdf["max_cells"], bucket,
            )
            yield _explode_covers(pdf["query_id"].to_numpy(), cov)

    return sel.mapInPandas(worker, schema=_Q_CELLS_SCHEMA).toPandas()


def plan_query_cells(
    spark: SparkSession,
    queries: DataFrame,
    bucket: int,
    max_cells: int,
) -> tuple[DataFrame, list[int] | None]:
    """-> (q_cells(query_id, cell_id, is_anc, q_l3), prune prefixes or None).

    A batch of up to SMALL_QUERY_ROWS rows is planned on the driver
    (_plan_query_cells): its exploded cell frame becomes a local relation
    for the broadcast join and the prune prefixes come back as a list.
    Larger batches stay lazy and the prefixes are None."""
    planned = _plan_query_cells(spark, queries, bucket, max_cells)
    if planned is None:
        return _lazy_query_cells(queries, bucket, max_cells), None
    out = planned[0]
    if not len(out):
        return spark.createDataFrame([], _Q_CELLS_SCHEMA), []
    return spark.createDataFrame(out, schema=_Q_CELLS_SCHEMA), _prefixes(out)


def _plan_query_cells(
    spark: SparkSession, queries: DataFrame, bucket: int, max_cells: int
) -> tuple[pd.DataFrame, int] | None:
    """(exploded cell frame (query_id, cell_id, is_anc, q_l3), row count)
    of a batch of up to SMALL_QUERY_ROWS rows, built in driver memory;
    None for a larger batch.

    The raw region rows are collected (one Spark job). Below
    DRIVER_COVER_ROWS the covering kernel (rgm.udfs.compute_covers — the
    same code the executor UDF runs) also runs here, so no further Spark
    job runs before the index is read; above it the kernel runs as one
    distributed pass (_covers_distributed)."""
    q = _ensure_region_cols(queries, max_cells)
    rows = q.select("query_id", *REGION_COLS).limit(SMALL_QUERY_ROWS + 1).collect()
    if len(rows) > SMALL_QUERY_ROWS:
        return None
    if not rows:
        return _explode_covers(np.empty(0, object), pd.DataFrame({"cells": [], "ancs": []})), 0
    if len(rows) > DRIVER_COVER_ROWS:
        return _covers_distributed(spark, q, bucket), len(rows)
    from .udfs import compute_covers

    pdf = pd.DataFrame([r.asDict() for r in rows])
    for c in _NUM_REGION_COLS:
        pdf[c] = pd.to_numeric(pdf[c], errors="coerce")
    cov = compute_covers(
        pdf["kind"], pdf["lat"], pdf["lng"], pdf["radius_m"],
        pdf["lat_lo"], pdf["lat_hi"], pdf["lng_lo"], pdf["lng_hi"],
        pdf["verts"], pdf["cell_id"], pdf["max_cells"], bucket,
    )
    return _explode_covers(pdf["query_id"].to_numpy(), cov), len(rows)


def _prefixes(q_cells: pd.DataFrame) -> list[int]:
    """The level-3 prune prefixes of a driver-planned cell frame."""
    return sorted(int(x) for x in pd.unique(q_cells["q_l3"]))


def _lazy_query_cells(queries: DataFrame, bucket: int, max_cells: int) -> DataFrame:
    covered = _cover_queries(queries, bucket, max_cells)
    q_origin = covered.select(
        "query_id", F.explode("qcov.cells").alias("cell_id"), F.lit(False).alias("is_anc")
    )
    from .index import anc_lattice_sql

    q_anc = covered.select(
        "query_id",
        F.explode(F.expr(anc_lattice_sql("qcov.cells", bucket))).alias("cell_id"),
        F.lit(True).alias("is_anc"),
    )
    return q_origin.unionByName(q_anc).withColumn("q_l3", F.expr(PARENT3_EXPR))


def index_bucket(index_path: str, bucket: int | None) -> int:
    """The lattice bucket is an index property — read it from the manifest
    (through the cached index handle, rgm.index.open_index) so queries
    always quantize the same way the build did."""
    if bucket is not None:
        return bucket
    return open_index(SparkSession.active(), index_path).bucket


def candidate_keys(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    bucket: int | None = None,
    max_cells: int = 30,
    prune: bool = True,
    mode: str = "equi",
) -> DataFrame:
    """Cell-level candidate (query_id, key_id) pairs — the reference's
    bitmap-union result set (A17) before geometric refinement.

    mode='equi' (default, the scale path): both hierarchy branches are one
    broadcast equi-join against the ancestor-exploded pairs table
    (SURVEY §7.3a).

    mode='range' (validation): executes the reference's LITERAL
    decomposition — descendant branch as a Hilbert-interval range join of
    the query cells' [range_min, range_max] against index ORIGIN cells
    (RoaringGeoMapReader.cpp:46-54, Block.h:189-222), ancestor branch as the
    equi-join of query-ancestors vs origin cells (:57-64). A broadcast
    nested-loop range join — kept as the §7.3b cross-check of the equi
    reformulation (tests assert both modes return identical key sets), not
    for production volume. Range endpoints share the query cell's face, so
    the int64 BETWEEN is safe (no sign-boundary crossing).
    """
    if mode not in ("equi", "range"):
        raise ValueError(mode)
    idx = open_index(spark, index_path)
    q_cells, prefixes = plan_query_cells(
        spark, queries, idx.bucket if bucket is None else bucket, max_cells
    )

    pairs = idx.read("pairs")
    if prune:
        if prefixes is None:
            prefixes = [r["q_l3"] for r in q_cells.select("q_l3").distinct().collect()]
        # zone-map pruning: the query covering's level-3 prefixes are tiny;
        # the IN-filter reaches Parquet row-group stats (SuRF analog)
        pairs = pairs.filter(F.col("cell_l3").isin(prefixes))

    if mode == "range":
        origin_pairs = pairs.filter(F.col("is_origin"))
        rb = _range_bounds_udf()
        q_rng = (
            q_cells.filter(~F.col("is_anc"))
            .withColumn("rb", rb(F.col("cell_id")))
            .select("query_id", F.col("rb.lo").alias("lo"), F.col("rb.hi").alias("hi"))
        )
        desc = origin_pairs.join(
            F.broadcast(q_rng),
            (origin_pairs["cell_id"] >= F.col("lo"))
            & (origin_pairs["cell_id"] <= F.col("hi")),
        ).select("query_id", "key_id")
        q_anc = q_cells.filter(F.col("is_anc")).select("query_id", "cell_id")
        anc = origin_pairs.join(F.broadcast(q_anc), on="cell_id").select(
            "query_id", "key_id"
        )
        return desc.unionByName(anc).distinct()

    joined = pairs.join(
        F.broadcast(q_cells), on="cell_id", how="inner"
    ).filter(F.col("is_origin") | ~F.col("is_anc"))
    return joined.select("query_id", "key_id").distinct()


def search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    bucket: int | None = None,
    max_cells: int = 30,
    refine: bool = True,
    prune: bool = True,
    refine_mode: str = "point",
) -> DataFrame:
    """Intersects/Contains query: keys whose indexed geometry matches each
    query region.

    refine=False is the reference's exact `Contains` output — the cell-level
    candidate key set (RoaringGeoMapReader.cpp:39-91 returns every key whose
    cover cell-intersects the query cover; SURVEY Table C1 note).

    refine_mode:
      'point'      payload is a point: exact point-in-region (default)
      'intersects' payload is a cap (p_radius_m; null => point): payload
                   region overlaps the query region — the real `Intersects`
                   the reference stubs (A21)
      'contains'   query region fully contains the payload region
    Returns (query_id, key_id, key, p_lat, p_lng).
    """
    cand = candidate_keys(spark, index_path, queries, bucket, max_cells, prune)
    if refine:
        # AQE coalesces the small post-distinct stage to one task, which then
        # runs the key joins and the refine UDF on one core; a repartition
        # to a fixed count is never coalesced, so they run on every slot
        cand = cand.repartition(
            max(int(spark.sparkContext.defaultParallelism), 1), "query_id", "key_id"
        )
    # payload-geometry columns are only read when region-vs-region
    # refinement needs them; the mass path (point refinement / cell-level
    # Contains) scans 4 narrow key columns
    keys = load_keys(
        spark, index_path, payload=refine and refine_mode != "point"
    )
    out = cand.join(keys, on="key_id", how="inner")
    if not refine:
        return out.select("query_id", "key_id", "key", "p_lat", "p_lng")
    qcols = _ensure_region_cols(queries).select(
        "query_id", *[c for c in REGION_COLS if c != "max_cells"]
    )
    joined = out.join(F.broadcast(qcols), on="query_id", how="inner")
    if refine_mode == "point":
        pred = refine_udf()(
            F.col("query_id"), F.col("p_lat"), F.col("p_lng"),
            F.col("kind"), F.col("lat"), F.col("lng"), F.col("radius_m"),
            F.col("lat_lo"), F.col("lat_hi"), F.col("lng_lo"), F.col("lng_hi"),
            F.col("verts"), F.col("cell_id"),
        )
    else:
        from .index import ensure_payload_cols
        from .udfs import region_refine_udf

        if "p_radius_m" not in joined.columns:
            joined = joined.withColumn("p_radius_m", F.lit(None).cast("double"))
        joined = ensure_payload_cols(joined)
        pred = region_refine_udf(refine_mode)(
            F.col("query_id"),
            F.col("p_kind"), F.col("p_lat"), F.col("p_lng"), F.col("p_radius_m"),
            F.col("p_lat_lo"), F.col("p_lat_hi"), F.col("p_lng_lo"), F.col("p_lng_hi"),
            F.col("p_verts"),
            F.col("kind"), F.col("lat"), F.col("lng"), F.col("radius_m"),
            F.col("lat_lo"), F.col("lat_hi"), F.col("lng_lo"), F.col("lng_hi"),
            F.col("verts"), F.col("cell_id"),
        )
    return joined.filter(pred).select("query_id", "key_id", "key", "p_lat", "p_lng")


def _union_groups(codes: np.ndarray, blobs) -> tuple[np.ndarray, ...]:
    """(sorted-unique values, group starts, group ends, group codes) of the
    union of each query code's bitmaps — one vectorized decode_many, no
    per-query or per-blob Python (r5: a groupby/union_many loop was the
    count path's CPU sink). Each uint32 value is packed under its
    non-negative code into one int64, so a single-key np.unique sorts and
    dedups: a two-key lexsort of the 17M (query, key) values of 32k wide
    caps took 2.3x as long."""
    vals, rows = bm.decode_many(blobs)
    packed = np.unique((np.asarray(codes, np.int64)[rows] << 32) | vals.astype(np.int64))
    c = packed >> 32
    bounds = np.append(np.flatnonzero(np.diff(c, prepend=-1)), len(c))
    starts = bounds[:-1]
    return (packed & 0xFFFFFFFF).astype(np.uint32), starts, bounds[1:], c[starts]


def _partials(codes: np.ndarray, blobs) -> tuple[np.ndarray, list[bytes]]:
    """(codes, one union bitmap per code) of a partition's bitmaps."""
    vals, starts, ends, c = _union_groups(codes, blobs)
    return c, bm.encode_sorted_groups(vals, starts, ends)[0]


def _count_frame(codes: np.ndarray, blobs, names) -> pd.DataFrame:
    """(query_id = names[code], n_keys) from partial bitmaps by code."""
    _, starts, ends, c = _union_groups(codes, blobs)
    return pd.DataFrame({"query_id": names[c], "n_keys": ends - starts})


def _concat(it) -> pd.DataFrame | None:
    chunks = [pdf for pdf in it if len(pdf)]
    return pd.concat(chunks, ignore_index=True) if chunks else None


def _probe_partials(q_cells: pd.DataFrame):
    """-> (mapInPandas function, query ids by code) that joins a
    driver-planned cell frame with postings (cell_id, is_origin, bitmap)
    rows inside the scan — the reference reader's per-cell posting lookup
    (RoaringGeoMapReader.cpp:39-91) — and yields one (code, bitmap)
    partial per query and partition.

    The closure carries the frame's sorted unique cell ids, CSR offsets
    into per-entry int32 query codes and an is_anc flag per entry
    (PySpark ships a pickled command over 1 MiB as a broadcast). A posting
    row meets every entry of its cell; an entry for a lattice ancestor of
    a query cell only counts against an origin posting (an index cover
    cell coarser than the query's)."""
    codes, qids = pd.factorize(q_cells["query_id"], use_na_sentinel=False)
    order = np.argsort(q_cells["cell_id"].to_numpy(), kind="stable")
    cells = q_cells["cell_id"].to_numpy()[order]
    first = np.flatnonzero(np.r_[True, cells[1:] != cells[:-1]])
    ucell, off = cells[first], np.append(first, len(cells))
    e_code = codes[order].astype(np.int32)
    e_anc = q_cells["is_anc"].to_numpy(bool)[order]

    def partial_union(it):
        got_codes, got_blobs = [], []
        for pdf in it:
            cell = pdf["cell_id"].to_numpy()
            pos = np.minimum(np.searchsorted(ucell, cell), len(ucell) - 1)
            hit = np.flatnonzero(ucell[pos] == cell)
            lo = off[pos[hit]]
            n = off[pos[hit] + 1] - lo
            row = np.repeat(hit, n)
            ent = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(int(n.sum()))
            keep = pdf["is_origin"].to_numpy(bool)[row] | ~e_anc[ent]
            got_codes.append(e_code[ent[keep]])
            got_blobs.append(pdf["bitmap"].to_numpy()[row[keep]])
        if got_codes and sum(map(len, got_codes)):
            c, blobs = _partials(np.concatenate(got_codes), np.concatenate(got_blobs))
            yield pd.DataFrame({"code": c.astype(np.int32), "bitmap": blobs})

    return partial_union, qids


def count_keys(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    bucket: int | None = None,
    max_cells: int = 30,
    prune: bool = True,
) -> DataFrame:
    """Distinct candidate-key count per query via roaring posting lists —
    the bitmap fastunion path (A16/A17), never touching per-key rows.

    Postings exist for origin cells AND their lattice-ancestor rollups, so
    the match is the same hierarchy equi-join as ``search``: the query's
    origin cells match any posting row; the query's ancestor cells match
    origin postings only.

    A batch planned on the driver (up to SMALL_QUERY_ROWS rows) is joined
    inside the mapInPandas that reads the pruned postings scan
    (_probe_partials), with no query relation and no broadcast join; each
    scan partition yields one (query code, partial bitmap) per query. Up to
    DRIVER_FINAL_ROWS rows the partials are collected and unioned on the
    driver in query-disjoint chunks of about _FINAL_CHUNK_BYTES, on up to
    one thread per task slot, and the result comes back as a local
    DataFrame; above it the union runs distributed after a shuffle by
    code. Larger batches stay lazy: a broadcast join of the query cells
    with postings, then the distributed union by query_id. Either way a
    query without candidates has no row."""
    idx = open_index(spark, index_path)
    bucket = idx.bucket if bucket is None else bucket
    postings = idx.read("postings")
    planned = _plan_query_cells(spark, queries, bucket, max_cells)
    if planned is None:
        return _count_lazy(postings, _lazy_query_cells(queries, bucket, max_cells), prune)
    q_cells, n_rows = planned
    if not len(q_cells):
        return spark.createDataFrame([], _COUNT_SCHEMA)
    if prune:
        postings = postings.filter(F.col("cell_l3").isin(_prefixes(q_cells)))
    partial_union, qids = _probe_partials(q_cells)
    partials = postings.select("cell_id", "is_origin", "bitmap").mapInPandas(
        partial_union, "code int, bitmap binary"
    )
    if n_rows > DRIVER_FINAL_ROWS:
        return _final_union(partials, qids)
    pdf = partials.toPandas()
    if not len(pdf):
        return spark.createDataFrame([], _COUNT_SCHEMA)
    codes, blobs = pdf["code"].to_numpy(), pdf["bitmap"].to_numpy()
    n = min(len(qids), 1 + int(pdf["bitmap"].map(len).sum()) // _FINAL_CHUNK_BYTES)
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        parts = list(pool.map(
            lambda m: _count_frame(codes[m], blobs[m], qids), (codes % n == i for i in range(n))
        ))
    return spark.createDataFrame(pd.concat(parts, ignore_index=True), _COUNT_SCHEMA)


def _count_lazy(postings: DataFrame, q_cells: DataFrame, prune: bool) -> DataFrame:
    """count_keys of a batch above SMALL_QUERY_ROWS: broadcast join of the
    lazily covered query cells with postings, a partial union per scan
    partition, then a distributed union after a shuffle by query_id."""
    if prune:
        prefixes = [r["q_l3"] for r in q_cells.select("q_l3").distinct().collect()]
        postings = postings.filter(F.col("cell_l3").isin(prefixes))
    matched = postings.join(F.broadcast(q_cells), on="cell_id", how="inner").filter(
        F.col("is_origin") | ~F.col("is_anc")
    )

    def partial_union(it):
        # partition-local: collapse each scan partition's matched posting
        # rows to one partial bitmap per query (map-side combine, no shuffle)
        pdf = _concat(it)
        if pdf is not None:
            codes, uniq = pd.factorize(pdf["query_id"])
            c, blobs = _partials(codes, pdf["bitmap"].to_numpy())
            yield pd.DataFrame({"query_id": uniq[c], "bitmap": blobs})

    return _final_union(
        matched.select("query_id", "bitmap").mapInPandas(partial_union, "query_id string, bitmap binary")
    )


def _final_union(partials: DataFrame, names=None) -> DataFrame:
    """The distributed final: shuffle the (key, bitmap) partials by key,
    union each key's bitmaps and count. Keys are query ids, or int query
    codes into ``names``."""
    key = partials.columns[0]

    def final_count(it):
        pdf = _concat(it)
        if pdf is not None:
            codes, uniq = pd.factorize(pdf[key])
            ids = uniq if names is None else names[np.asarray(uniq)]
            yield _count_frame(codes, pdf["bitmap"].to_numpy(), ids)

    # fixed fan-in for the final union: the partials are one row per
    # (scan partition, query), so a handful of reducers suffices at any
    # parallelism level — tying this to shuffle_partitions made the tiny
    # final stage slower the more cores the session had
    return partials.repartition(8, key).mapInPandas(final_count, _COUNT_SCHEMA)


def _range_bounds_udf():
    @F.pandas_udf(
        T.StructType(
            [T.StructField("lo", T.LongType()), T.StructField("hi", T.LongType())]
        )
    )
    def rb(cell: pd.Series) -> pd.DataFrame:
        ids = cm.from_spark(cell.to_numpy().astype(np.int64))
        return pd.DataFrame(
            {"lo": cm.to_spark(cm.range_min(ids)), "hi": cm.to_spark(cm.range_max(ids))}
        )

    return rb


def assign_tiles(df: DataFrame, level: int, lat_col: str = "lat", lng_col: str = "lng") -> DataFrame:
    """Raster->vector tile assignment (SURVEY Table C4): every point row gets
    its level-``level`` tile id. Pure map — no shuffle."""
    return df.withColumn("tile_id", make_tile_udf(level)(F.col(lat_col), F.col(lng_col)))


def tiles_for_regions(
    queries: DataFrame, level: int, max_tiles: int = 4096
) -> DataFrame:
    """Vector->raster: all level-``level`` tiles intersecting each region.
    Returns (query_id, tile_id) exploded."""
    q = _ensure_region_cols(queries, max_tiles)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def tiles_udf(
        kind: pd.Series, lat: pd.Series, lng: pd.Series, radius_m: pd.Series,
        lat_lo: pd.Series, lat_hi: pd.Series, lng_lo: pd.Series, lng_hi: pd.Series,
        verts: pd.Series, cell_id: pd.Series, max_cells: pd.Series,
    ) -> pd.Series:
        from .udfs import _region_covers, _rows_to_lists

        covers = _region_covers(
            kind, lat, lng, radius_m, lat_lo, lat_hi, lng_lo, lng_hi,
            verts, cell_id, pd.Series(np.full(len(kind), max_tiles)),
        )
        # expand/snap every region's cover to exactly `level`, batched
        # ACROSS regions (the same concatenate/searchsorted shape
        # compute_covers uses — the r2 per-region loop ran the BFS once per
        # region): one parent() call for all finer-than-level cells, one
        # children() fan-out per depth step for all coarser cells
        n = len(covers)
        lens = np.array([len(c) for c in covers], dtype=np.int64)
        flat = np.concatenate(covers) if lens.sum() else np.empty(0, np.uint64)
        row_of = np.repeat(np.arange(n), lens)
        parts_c: list[np.ndarray] = []
        parts_r: list[np.ndarray] = []
        if len(flat):
            lv = cm.level(flat)
            fine = lv >= level
            if fine.any():
                parts_c.append(cm.parent(flat[fine], np.full(int(fine.sum()), level)))
                parts_r.append(row_of[fine])
            cur, cur_r = flat[~fine], row_of[~fine]
            while len(cur):
                lvc = cm.level(cur)
                at = lvc == level
                if at.any():
                    parts_c.append(cur[at])
                    parts_r.append(cur_r[at])
                below = lvc < level
                if not below.any():
                    break
                cur = cm.children(cur[below]).reshape(-1)
                cur_r = np.repeat(cur_r[below], 4)
        if parts_c:
            tiles = cm.to_spark(np.concatenate(parts_c))
            rows = np.concatenate(parts_r)
            o = np.lexsort((tiles, rows))
            t, r = tiles[o], rows[o]
            keep = np.concatenate([[True], (r[1:] != r[:-1]) | (t[1:] != t[:-1])])
            out = _rows_to_lists(t[keep], r[keep], n)
        else:
            out = [[] for _ in range(n)]
        return pd.Series(out)

    covered = q.withColumn(
        "tiles", tiles_udf(*[F.col(c) for c in REGION_COLS])
    )
    return covered.select("query_id", F.explode("tiles").alias("tile_id"))


_KNN_SCRATCH: list[str] = []  # default-output dirs pending cleanup
_KNN_ATEXIT = False


def cleanup_knn_scratch() -> int:
    """Delete every default-location knn result directory created by this
    process (their DataFrames become unreadable). Runs automatically at
    interpreter exit; call earlier to reclaim space. Returns the number of
    directories removed."""
    import shutil

    n = 0
    while _KNN_SCRATCH:
        shutil.rmtree(_KNN_SCRATCH.pop(), ignore_errors=True)
        n += 1
    return n


def knn(
    spark: SparkSession,
    index_path: str,
    query_points: DataFrame,
    k: int,
    r0_m: float = 2000.0,
    max_rounds: int = 8,
    bucket: int | None = None,
    out_path: str | None = None,
) -> DataFrame:
    """k nearest indexed keys per query point (SURVEY Table C3).

    Iterative ring expansion with all round state distributed: each round
    cap-searches the REMAINING queries at a radius growing x4 per round
    (starting at ``r0_m``), spills the round's hits to parquet (cuts
    lineage with zero cached blocks), and shrinks the remaining set by an
    ANTI-JOIN on the queries that reached k exact candidates (the true kNN
    is then a subset of them). The query set is never collected, so one
    code path serves a handful of points and a million alike. Growing caps
    are supersets, so the union of all rounds' hits per query equals its
    final round's candidate set — dedupe (query, key) then one per-query
    window top-k (ties by ``key_id``). The only value the driver sees per
    round is whether any query remains.

    Every call leaves its result directory: the final top-k goes to
    ``out_path`` when given (caller-owned lifecycle); else it is written
    under ``<index_path>/_scratch/knn-<nonce>`` — the index's own (shared)
    filesystem, never the driver-local tempdir — and that directory is
    removed at interpreter exit or by cleanup_knn_scratch(). When the
    index location is READ-ONLY (the shared published-index posture), the
    scratch falls back to a sibling of ``out_path`` (the caller's writable
    shared storage) or, with no out_path, to a driver-local tempdir —
    correct in local mode only, so a cluster caller on a read-only index
    passes ``out_path``.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    from .udfs import haversine_udf

    nonce = uuid.uuid4().hex[:12]
    work = os.path.join(index_path, "_scratch", f"knn-{nonce}")
    try:
        os.makedirs(work, exist_ok=True)
    except OSError:
        if out_path is not None:
            # same filesystem the caller owns for the result
            parent = os.path.dirname(os.path.abspath(out_path)) or "."
            work = os.path.join(parent, f"_knn_scratch-{nonce}")
            os.makedirs(work, exist_ok=True)
        else:
            # driver-local: fine in local mode; cluster callers with a
            # read-only index must pass out_path
            work = tempfile.mkdtemp(prefix="rgm_knn_scratch_")
    rounds_written = 0
    rounds_dir = os.path.join(work, "rounds")
    rem = query_points.select("query_id", "lat", "lng")
    radius = r0_m
    try:
        for rnd in range(max_rounds):
            caps = rem.select(
                "query_id", F.lit("cap").alias("kind"), "lat", "lng",
                F.lit(float(radius)).alias("radius_m"),
            )
            hits = (
                search(spark, index_path, caps, bucket=bucket, refine=True)
                .join(
                    rem.select(
                        "query_id",
                        F.col("lat").alias("q_lat"), F.col("lng").alias("q_lng"),
                    ),
                    on="query_id",
                )
                .withColumn("dist_m", haversine_udf("p_lat", "p_lng", "q_lat", "q_lng"))
                .select("query_id", "key_id", "key", "dist_m")
            )
            hits.write.parquet(os.path.join(rounds_dir, f"round{rnd}"))
            rounds_written += 1
            hits_r = spark.read.parquet(os.path.join(rounds_dir, f"round{rnd}"))
            done = (
                hits_r.groupBy("query_id")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") >= k)
                .select("query_id")
            )
            rem = rem.join(done, on="query_id", how="left_anti")
            if rem.isEmpty():
                break
            radius *= 4.0
        allhits = spark.read.parquet(
            *[os.path.join(rounds_dir, f"round{r}") for r in range(rounds_written)]
        )
        # growing caps re-find earlier rounds' keys — collapse duplicates
        # before ranking (dist is identical across rounds for a pair)
        dedup = allhits.groupBy("query_id", "key_id", "key").agg(
            F.min("dist_m").alias("dist_m")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist_m").asc(), F.col("key_id").asc()
        )
        out = (
            dedup.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "key_id", "key", "dist_m", "rank")
        )
        # materialize before the round spills are deleted (results are k x
        # |queries| — large-batch callers should pass out_path and own the
        # files; the returned plan reads the committed parquet either way)
        final = out_path or os.path.join(work, "result")
        out.write.mode("overwrite").parquet(final)
        return spark.read.parquet(final)
    finally:
        shutil.rmtree(rounds_dir, ignore_errors=True)
        if out_path is not None:
            # result lives outside the scratch dir: nothing to keep
            shutil.rmtree(work, ignore_errors=True)
        else:
            global _KNN_ATEXIT
            _KNN_SCRATCH.append(work)
            if not _KNN_ATEXIT:
                atexit.register(cleanup_knn_scratch)
                _KNN_ATEXIT = True
