"""Query serving: Contains / Intersects / kNN / tile assignment.

Re-expresses the reference reader's probe pipeline
(/root/reference/cpp/src/RoaringGeoMapReader.cpp:39-91) over the index
tables (SURVEY §3.3). The hierarchy-containment match is decomposed into
pure cell equality (SURVEY §7.3 strategy (a)): the index stores every
cover cell's lattice ancestors, so

    match1: query origin cells  vs ALL index rows      (index finer-or-equal)
    match2: query ancestor cells vs index ORIGIN rows  (index coarser)

both on ``cell_id``. Every query batch goes through one planner
(_plan_query_cells): its covering is exploded into a (query_id, cell_id,
is_anc) frame in driver memory. One in-scan probe (_cell_matcher) then
looks each index row's cell up in that frame's sorted cell ids inside the
mapInPandas that reads the table — ``pairs`` for candidate_keys/search,
``postings`` for count_keys — so no query relation is built or broadcast
and the index tables are never shuffled. A coarse ``cell_l3`` IN-list
derived from the covering is pushed into the Parquet scan for row-group
pruning — the Spark analog of the reference's SuRF prefilter + block-max
index (A7/A8/A12).

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
from .index import _ensure_region_cols, load_keys, open_index
from .udfs import REGION_COLS, compute_covers, make_tile_udf, refine_udf


# query batches up to this many rows run the covering kernel on the
# driver; above it the kernel runs as one mapInPandas pass at default
# parallelism over the collected rows. On one cached cap batch (local[4],
# 4 vCPU, 2 reps each): 4,200 caps took 0.50-0.53 s on the driver vs
# 0.47-0.58 s distributed, 32,768 caps 3.6-3.7 s vs 1.5-1.6 s. The driver
# kernel costs about 0.1 ms per cap and a Spark job has a fixed floor, so
# 4096 sits near break-even on 4 slots.
DRIVER_COVER_ROWS = 4096

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
    (query_id, cell_id, is_anc, q_l3) frame."""
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


def _cover_frame(pdf: pd.DataFrame, bucket: int) -> pd.DataFrame:
    """Region rows (query_id + REGION_COLS) -> exploded cell frame, through
    the covering kernel the executor UDF runs (rgm.udfs.compute_covers).
    Shared by the driver-side planner and the distributed pass."""
    for c in _NUM_REGION_COLS:
        pdf[c] = pd.to_numeric(pdf[c], errors="coerce")
    cov = compute_covers(
        pdf["kind"], pdf["lat"], pdf["lng"], pdf["radius_m"],
        pdf["lat_lo"], pdf["lat_hi"], pdf["lng_lo"], pdf["lng_hi"],
        pdf["verts"], pdf["cell_id"], pdf["max_cells"], bucket,
    )
    return _explode_covers(pdf["query_id"].to_numpy(), cov)


def _covers_distributed(
    spark: SparkSession, rows: pd.DataFrame, schema: T.StructType, bucket: int
) -> pd.DataFrame:
    """Run the covering kernel over the collected region rows as ONE
    mapInPandas pass and collect only the exploded cell frame, so
    everything downstream of the planner is the same as for a
    driver-covered batch. The rows go to Spark through Arrow as a local
    relation, which Spark scans in default-parallelism slices: the pass
    needs no shuffle. (Handing Spark the list of Rows instead verifies,
    pickles and decodes them row by row: on 4,200 caps 0.35 s more per
    call, with twice the spread.)"""

    def worker(batches):
        for pdf in batches:
            if len(pdf):
                yield _cover_frame(pdf, bucket)

    rel = spark.createDataFrame(rows, schema)
    return rel.mapInPandas(worker, schema=_Q_CELLS_SCHEMA).toPandas()


def plan_query_cells(
    spark: SparkSession,
    queries: DataFrame,
    bucket: int,
    max_cells: int,
) -> tuple[DataFrame, list[int]]:
    """-> (q_cells(query_id, cell_id, is_anc, q_l3), prune prefixes): the
    planner's cell frame (_plan_query_cells) as a local relation, and its
    level-3 prune prefixes."""
    out = _plan_query_cells(spark, queries, bucket, max_cells)
    return _cells_relation(spark, out), _prefixes(out)


def _plan_query_cells(
    spark: SparkSession, queries: DataFrame, bucket: int, max_cells: int
) -> pd.DataFrame:
    """The exploded cell frame (query_id, cell_id, is_anc, q_l3) of a query
    batch, built in driver memory — the one planner of every query call.

    The batch's region rows are collected once (one Spark job); the
    caller's lineage is not evaluated again. Up to DRIVER_COVER_ROWS rows
    the covering kernel also runs here, so no further Spark job runs
    before the index is read; above it the kernel runs as one distributed
    pass over the collected rows (_covers_distributed)."""
    sel = _ensure_region_cols(queries, max_cells).select("query_id", *REGION_COLS)
    rows = sel.collect()
    if not rows:
        return _explode_covers(np.empty(0, object), pd.DataFrame({"cells": [], "ancs": []}))
    pdf = pd.DataFrame([r.asDict() for r in rows])
    if len(pdf) > DRIVER_COVER_ROWS:
        return _covers_distributed(spark, pdf, sel.schema, bucket)
    return _cover_frame(pdf, bucket)


def _cells_relation(spark: SparkSession, q_cells: pd.DataFrame) -> DataFrame:
    if not len(q_cells):
        return spark.createDataFrame([], _Q_CELLS_SCHEMA)
    return spark.createDataFrame(q_cells, schema=_Q_CELLS_SCHEMA)


def _prefixes(q_cells: pd.DataFrame) -> list[int]:
    """The level-3 prune prefixes of a planned cell frame."""
    return sorted(int(x) for x in pd.unique(q_cells["q_l3"]))


def _scan(idx, table: str, q_cells: pd.DataFrame, prune: bool, *cols: str) -> DataFrame:
    """``cols`` of an index table, zone-map pruned to the covering's
    level-3 prefixes: the IN-filter reaches Parquet row-group stats (SuRF
    analog)."""
    df = idx.read(table)
    if prune:
        df = df.filter(F.col("cell_l3").isin(_prefixes(q_cells)))
    return df.select(*cols)


def _cell_matcher(q_cells: pd.DataFrame):
    """-> (match, query ids by code): the in-scan probe of a planned cell
    frame — the reference reader's per-cell posting lookup
    (RoaringGeoMapReader.cpp:39-91). ``match(pdf)`` takes a batch of index
    rows (cell_id, is_origin, ...) and returns (row, code): the batch row
    and the int32 query code of every match.

    The closure carries the frame's sorted unique cell ids, CSR offsets
    into per-entry query codes and an is_anc flag per entry (PySpark ships
    a pickled command over 1 MiB as a broadcast). An index row meets every
    entry of its cell; an entry for a lattice ancestor of a query cell only
    matches an origin row (an index cover cell coarser than the query's):
    a pair matches only if ``is_origin | ~is_anc``."""
    codes, qids = pd.factorize(q_cells["query_id"], use_na_sentinel=False)
    order = np.argsort(q_cells["cell_id"].to_numpy(), kind="stable")
    cells = q_cells["cell_id"].to_numpy()[order]
    first = np.flatnonzero(np.r_[True, cells[1:] != cells[:-1]])
    ucell, off = cells[first], np.append(first, len(cells))
    e_code = codes[order].astype(np.int32)
    e_anc = q_cells["is_anc"].to_numpy(bool)[order]

    def match(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        cell = pdf["cell_id"].to_numpy()
        pos = np.minimum(np.searchsorted(ucell, cell), len(ucell) - 1)
        hit = np.flatnonzero(ucell[pos] == cell)
        lo = off[pos[hit]]
        n = off[pos[hit] + 1] - lo
        row = np.repeat(hit, n)
        ent = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(int(n.sum()))
        keep = pdf["is_origin"].to_numpy(bool)[row] | ~e_anc[ent]
        return row[keep], e_code[ent[keep]]

    return match, np.asarray(qids, dtype=object)


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

    mode='equi' (default, the scale path): the in-scan probe
    (_cell_matcher) matches both hierarchy branches inside the mapInPandas
    that reads the pruned ``pairs`` scan (SURVEY §7.3a); each scan
    partition yields its distinct (query_id, key_id) pairs, and one
    ``distinct`` dedups across partitions.

    mode='range' (validation): executes the reference's LITERAL
    decomposition — descendant branch as a Hilbert-interval range join of
    the query cells' [range_min, range_max] against index ORIGIN cells
    (RoaringGeoMapReader.cpp:46-54, Block.h:189-222), ancestor branch as the
    equi-join of query-ancestors vs origin cells (:57-64). A broadcast
    nested-loop range join over the planned cells as a local relation,
    sharing no code with the probe — kept as the §7.3b cross-check of the
    equi reformulation (tests assert both modes return identical key
    sets), not for production volume. Range endpoints share the query
    cell's face, so the int64 BETWEEN is safe (no sign-boundary crossing).
    """
    if mode not in ("equi", "range"):
        raise ValueError(mode)
    idx = open_index(spark, index_path)
    q_cells = _plan_query_cells(
        spark, queries, idx.bucket if bucket is None else bucket, max_cells
    )
    pairs = _scan(idx, "pairs", q_cells, prune, "cell_id", "is_origin", "key_id")

    if mode == "range":
        q_rel = _cells_relation(spark, q_cells)
        origin_pairs = pairs.filter(F.col("is_origin"))
        rb = _range_bounds_udf()
        q_rng = (
            q_rel.filter(~F.col("is_anc"))
            .withColumn("rb", rb(F.col("cell_id")))
            .select("query_id", F.col("rb.lo").alias("lo"), F.col("rb.hi").alias("hi"))
        )
        desc = origin_pairs.join(
            F.broadcast(q_rng),
            (origin_pairs["cell_id"] >= F.col("lo"))
            & (origin_pairs["cell_id"] <= F.col("hi")),
        ).select("query_id", "key_id")
        q_anc = q_rel.filter(F.col("is_anc")).select("query_id", "cell_id")
        anc = origin_pairs.join(F.broadcast(q_anc), on="cell_id").select(
            "query_id", "key_id"
        )
        return desc.unionByName(anc).distinct()

    schema = T.StructType([T.StructField("query_id", T.StringType()), pairs.schema["key_id"]])
    if not len(q_cells):
        return spark.createDataFrame([], schema)
    match, qids = _cell_matcher(q_cells)

    def partial_distinct(it):
        # each match packs its query code over its (uint32) key_id into one
        # int64, so a single-key np.unique dedups the partition's pairs
        got = []
        for pdf in it:
            row, code = match(pdf)
            got.append((code.astype(np.int64) << 32) | pdf["key_id"].to_numpy(np.int64)[row])
        packed = np.unique(np.concatenate(got)) if got else np.empty(0, np.int64)
        if len(packed):
            yield pd.DataFrame({"query_id": qids[packed >> 32], "key_id": packed & 0xFFFFFFFF})

    return pairs.mapInPandas(partial_distinct, schema).distinct()


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
    the match is the same hierarchy match as ``search``: the query's
    origin cells match any posting row; the query's ancestor cells match
    origin postings only.

    The planned batch is matched inside the mapInPandas that reads the
    pruned postings scan (the in-scan probe, _cell_matcher), with no query
    relation and no broadcast join; each scan partition yields one (query
    code, partial bitmap) per query. The partials are collected and
    unioned on the driver in query-disjoint chunks of about
    _FINAL_CHUNK_BYTES, on up to one thread per task slot, and the result
    comes back as a local DataFrame. A query without candidates has no
    row."""
    idx = open_index(spark, index_path)
    q_cells = _plan_query_cells(
        spark, queries, idx.bucket if bucket is None else bucket, max_cells
    )
    if not len(q_cells):
        return spark.createDataFrame([], _COUNT_SCHEMA)
    match, qids = _cell_matcher(q_cells)

    def partial_union(it):
        got_codes, got_blobs = [], []
        for pdf in it:
            row, code = match(pdf)
            got_codes.append(code)
            got_blobs.append(pdf["bitmap"].to_numpy()[row])
        if got_codes and sum(map(len, got_codes)):
            c, blobs = _partials(np.concatenate(got_codes), np.concatenate(got_blobs))
            yield pd.DataFrame({"code": c.astype(np.int32), "bitmap": blobs})

    postings = _scan(idx, "postings", q_cells, prune, "cell_id", "is_origin", "bitmap")
    pdf = postings.mapInPandas(partial_union, "code int, bitmap binary").toPandas()
    if not len(pdf):
        return spark.createDataFrame([], _COUNT_SCHEMA)
    codes, blobs = pdf["code"].to_numpy(), pdf["bitmap"].to_numpy()
    n = min(len(qids), 1 + int(pdf["bitmap"].map(len).sum()) // _FINAL_CHUNK_BYTES)
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        parts = list(pool.map(
            lambda m: _count_frame(codes[m], blobs[m], qids), (codes % n == i for i in range(n))
        ))
    return spark.createDataFrame(pd.concat(parts, ignore_index=True), _COUNT_SCHEMA)


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
