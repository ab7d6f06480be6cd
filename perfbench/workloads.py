"""The two workloads and the operations they time.

Both workloads run the same operations against a point index built in
set-up; they differ in batch size, which decides what dominates a call:

serve  small batches: fixed per-call costs dominate (index open, planning,
       Spark job floors); the query covering is planned on the driver.
bulk   large batches: per-row work dominates (refinement across the Arrow
       boundary, broadcast joins, bitmap decode); the count batch is above
       ``rgm.query.DRIVER_COVER_ROWS``, so its covering runs distributed.

Each operation is one call into ``rgm.query`` whose result is brought back
to the driver, as a user would. Every call of an operation reads the same
generated batch, whose expected answer is computed in set-up apart from
``rgm``; every result is compared to it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracle
from oracle import Verdict

from rgm import index as ri
from rgm import query as rq

TILE_LEVEL = oracle.TILE_LEVEL
INDEX_STAGES = ("keys", "pairs", "postings")


@dataclass(frozen=True)
class Sizes:
    corpus_points: int
    caps: int
    count_caps: int
    polygons: int
    tile_points: int
    tile_calls: int  # tile calls per timed round


SIZES = {
    "serve": Sizes(corpus_points=25_000, caps=64, count_caps=64, polygons=64, tile_points=16_000,
                   tile_calls=4),
    # count batch: just above the size where planning moves off the driver
    "bulk": Sizes(corpus_points=25_000, caps=400, count_caps=rq.DRIVER_COVER_ROWS + 104,
                  polygons=200, tile_points=1_000_000, tile_calls=3),
}
CANDIDATE_CHECK = 256


@dataclass
class Op:
    name: str
    run: Callable[[], Any]  # -> result on the driver
    check: Callable[[Any], Verdict]
    # untimed calls before the timed window: a query's first call in a
    # process runs 10-50% slower than later ones; tile calls keep speeding
    # up over their first three
    warmup: int = 1
    # calls per timed round; 0: checked in its warm-up call only
    per_round: int = 1


def key_sets(pdf) -> dict:
    out: dict = {}
    for q, k in zip(pdf["query_id"], pdf["key"]):
        out.setdefault(q, set()).add(k)
    return out


def index_stats(index_path: str) -> dict:
    """Stage seconds from the manifest the build writes; rows and on-disk
    parquet bytes per stage."""
    with open(os.path.join(index_path, "_manifest.json")) as f:
        stages = json.load(f)["stages"]
    out = {f"{s}_s": float(e.get("metrics", {}).get("secs", 0.0)) for s, e in stages.items()}
    for s in INDEX_STAGES:
        out[f"{s}_rows"] = int(stages[s]["metrics"]["rows"])
        files = glob.glob(os.path.join(index_path, s, "**", "*.parquet"), recursive=True)
        out[f"{s}_bytes"] = sum(os.path.getsize(f) for f in files)
    return out


class QueryWorkload:
    def __init__(self, name: str, spark, seed: int, work: str, tracer):
        self.sizes = SIZES[name]
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.idx = os.path.join(work, "idx_points")

    def table(self, pdf, name: str):
        """Write a generated table as parquet; the program reads only these."""
        os.makedirs(os.path.join(self.work, "in"), exist_ok=True)
        path = inputs.write_parquet(pdf, os.path.join(self.work, "in", f"{name}.parquet"))
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        sz = self.sizes
        t = time.perf_counter()
        self.corpus_pdf = inputs.point_table(self.seed, "corpus", sz.corpus_points, "p")
        self.corpus = oracle.Corpus(self.corpus_pdf["key"], self.corpus_pdf["lat"], self.corpus_pdf["lng"])
        corpus_df = self.table(self.corpus_pdf, "corpus")
        self.setup_phases = {"corpus_s": time.perf_counter() - t}
        t = time.perf_counter()
        with self.tracer.span("index.build_index") as self.build_span:
            ri.build_index(self.spark, corpus_df, "key", self.idx, resume=False)
        self.setup_phases["build_s"] = time.perf_counter() - t
        keys = pq.read_table(os.path.join(self.idx, "keys"), columns=["key", "key_id"])
        self.setup_verdict = oracle.check_build(
            "set-up build", keys.column("key").to_numpy(zero_copy_only=False),
            keys.column("key_id").to_numpy(), self.corpus_pdf["key"],
        )
        self.index = index_stats(self.idx)
        t = time.perf_counter()

        def batch(kind: str, n: int, make, truth):
            pdf = make(self.seed, kind, self.corpus_pdf, n)
            return pdf, self.table(pdf, kind), truth(self.corpus, pdf)

        _, self.caps, self.caps_truth = batch("caps", sz.caps, inputs.cap_batch, oracle.cap_truth)
        self.count_pdf, self.count_caps, self.count_truth = batch(
            "count_caps", sz.count_caps, inputs.cap_batch, oracle.cap_truth
        )
        _, self.polys, self.polys_truth = batch("polygons", sz.polygons, inputs.polygon_batch, oracle.polygon_truth)
        self.setup_phases["batches_s"] = time.perf_counter() - t
        t = time.perf_counter()
        # count_keys must equal the distinct cell-level candidates per query;
        # a query's candidates do not depend on its batch, so the first
        # CANDIDATE_CHECK queries are enough to compare against
        head = self.count_pdf.head(CANDIDATE_CHECK)
        res = rq.search(self.spark, self.idx, self.table(head, "count_check"), refine=False)
        n = res.select("query_id", "key").toPandas().groupby("query_id")["key"].nunique()
        self.count_cands = {q: int(n.get(q, 0)) for q in head["query_id"]}
        self.setup_phases["count_candidates_s"] = time.perf_counter() - t
        t = time.perf_counter()
        lat, lng, _ = inputs.mixed_points(self.seed, "tiles", sz.tile_points)
        self.tiles_df = self.table(pd.DataFrame({"lat": lat, "lng": lng}), "tiles")
        pts = rq.assign_tiles(self.tiles_df, TILE_LEVEL).select("lat", "lng", "tile_id").toPandas()
        v = oracle.check_tiles(pts["tile_id"].to_numpy(), pts["lat"].to_numpy(), pts["lng"].to_numpy())
        self.setup_verdict.problems += v.problems
        self.tile_ids = pts["tile_id"].to_numpy()
        self.setup_phases["tiles_s"] = time.perf_counter() - t

    def record(self) -> dict:
        """Make-up and size of every input, for the run record."""
        sz = self.sizes
        return {
            "corpus_points": sz.corpus_points, "cluster_share": inputs.CLUSTER_SHARE,
            "cluster_sigma_deg": inputs.CLUSTER_SIGMA_DEG, "radius_m": inputs.RADIUS_M,
            "caps": sz.caps, "count_caps": sz.count_caps, "polygons": sz.polygons,
            "tile_points": sz.tile_points, "tile_level": TILE_LEVEL,
        }

    def index_bytes_per_key(self) -> float:
        return sum(self.index[f"{s}_bytes"] for s in INDEX_STAGES) / self.index["keys_rows"]

    def ops(self) -> list[Op]:
        """The operations, in round order."""
        spark, idx = self.spark, self.idx

        def count_check(res):
            got = dict(zip(res["query_id"], res["n_keys"].astype(int)))
            return oracle.check_count(got, self.count_truth, self.count_cands)

        def tiles_check(res):
            got = dict(zip(res["tile_id"].astype(np.int64).tolist(), res["count"].astype(int).tolist()))
            return oracle.check_tile_counts(got, self.tile_ids, self.sizes.tile_points)

        return [
            Op(
                "search",
                lambda: rq.search(spark, idx, self.caps).select("query_id", "key").toPandas(),
                lambda res: oracle.check_sets("search", key_sets(res), self.caps_truth),
                # untimed: its calls spread too much between runs to carry a
                # metric, and their window time goes to more tile samples
                per_round=0,
            ),
            Op("count", lambda: rq.count_keys(spark, idx, self.count_caps).toPandas(), count_check),
            Op(
                "tiles",
                lambda: rq.assign_tiles(self.tiles_df, TILE_LEVEL).groupBy("tile_id").count().toPandas(),
                tiles_check,
                warmup=3,
                # a tile call takes a quarter (serve) to a fifth (bulk) of a
                # count call: several per round give its median about as many
                # timed seconds as count's
                per_round=self.sizes.tile_calls,
            ),
        ]
