"""The benchmark's own tests. Each independent check passes on a correct
answer and fails when a wrong row is planted, a row is dropped, or a count
is off; BENCHMARK.json names exactly the metrics run.py prints. No Spark:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SEED = 11


def _corpus(n=20_000):
    pdf = inputs.point_table(SEED, "corpus", n, "p")
    return pdf, oracle.Corpus(pdf["key"], pdf["lat"], pdf["lng"])


def _cap_answer(corpus, caps):
    """A correct search result computed the slow way: every point, every cap."""
    out = {}
    for q, la, ln, r in zip(caps["query_id"], caps["lat"], caps["lng"], caps["radius_m"]):
        d = oracle.haversine_m(corpus.lat, corpus.lng, la, ln)
        out[q] = set(corpus.keys[d <= r])
    return out


def _outside_key(corpus, truth, q):
    inside, ties = truth[q]
    return next(k for k in corpus.keys if k not in inside and k not in ties)


def test_caps():
    pdf, corpus = _corpus()
    caps = inputs.cap_batch(SEED, "caps", pdf, 32)
    truth = oracle.cap_truth(corpus, caps)
    got = _cap_answer(corpus, caps)
    assert oracle.check_sets("caps", got, truth).ok
    q = next(q for q, (inside, _) in truth.items() if inside)
    wrong = {k: set(v) for k, v in got.items()}
    wrong[q].add(_outside_key(corpus, truth, q))
    assert not oracle.check_sets("caps", wrong, truth).ok
    missing = {k: set(v) for k, v in got.items()}
    missing[q].pop()
    assert not oracle.check_sets("caps", missing, truth).ok
    assert not oracle.check_sets("caps", {**got, "nope": {"p0000001"}}, truth).ok


def test_cap_rim_is_a_tie():
    pdf, corpus = _corpus(1000)
    la, ln = float(corpus.lat[0]), float(corpus.lng[0])
    d = oracle.haversine_m(corpus.lat, corpus.lng, la, ln)
    far = int(np.argmax(d < 5000) if (d < 5000).any() else 1)
    caps = {"query_id": ["q"], "lat": [la], "lng": [ln], "radius_m": [float(d[far])]}
    inside, ties = oracle.cap_truth(corpus, caps)["q"]
    assert corpus.keys[far] in ties and corpus.keys[far] not in inside
    v = oracle.check_sets("caps", {"q": inside}, {"q": (inside, ties)})
    assert v.ok and v.ties == len(ties)


def test_polygons():
    pdf, corpus = _corpus()
    polys = inputs.polygon_batch(SEED, "polys", pdf, 32)
    truth = oracle.polygon_truth(corpus, polys)
    got = {q: set(inside) for q, (inside, _) in truth.items()}
    assert oracle.check_sets("polygon", got, truth).ok
    q = next(q for q, (inside, _) in truth.items() if inside)
    wrong = {k: set(v) for k, v in got.items()}
    wrong[q].add(_outside_key(corpus, truth, q))
    assert not oracle.check_sets("polygon", wrong, truth).ok
    wrong[q] = set(list(got[q])[1:])
    assert not oracle.check_sets("polygon", wrong, truth).ok


def test_ray_cast_square():
    ring = np.array([[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0]])
    inside, near = oracle.ray_cast(np.array([0.5, 1.5, 0.0]), np.array([0.5, 0.5, 0.5]), ring)
    assert inside.tolist()[:2] == [True, False]
    assert near.tolist() == [False, False, True]


def test_count():
    pdf, corpus = _corpus()
    caps = inputs.cap_batch(SEED, "caps", pdf, 16)
    truth = oracle.cap_truth(corpus, caps)
    cands = {q: len(inside) + 3 for q, (inside, _) in truth.items()}
    got = dict(cands)
    assert oracle.check_count(got, truth, cands).ok
    q = next(iter(got))
    assert not oracle.check_count({**got, q: got[q] + 1}, truth, cands).ok
    low = {q: len(truth[q][0]) - 1 for q in truth if truth[q][0]}
    assert not oracle.check_count({**got, **low}, truth, {**cands, **low}).ok
    del got[q]
    assert not oracle.check_count(got, truth, cands).ok


def _level_cells(lat, lng, level):
    """S2-shaped ids for a 1/8-degree grid (tiles far smaller than the level-9
    diagonal): face 0 in the top 3 bits, the grid cell number in the 2*level
    position bits below it and the marker bit at 2 * (30 - level)."""
    cell = np.floor((lat - 20.0) * 8).astype(np.uint64) * np.uint64(512) + np.floor(
        (lng + 130.0) * 8
    ).astype(np.uint64)
    low = 2 * (30 - level)
    return ((cell << np.uint64(low + 1)) | np.uint64(1 << low)).view(np.int64)


def test_tiles():
    lat, lng, _ = inputs.mixed_points(SEED, "tiles", 5000)
    ids = _level_cells(lat, lng, oracle.TILE_LEVEL)
    assert (oracle.cell_level(ids) == oracle.TILE_LEVEL).all()
    assert oracle.check_tiles(ids, lat, lng).ok
    bad = ids.copy()
    bad[0] = _level_cells(lat[:1], lng[:1], 10)[0]
    assert not oracle.check_tiles(bad, lat, lng).ok
    far = ids.copy()
    far[1] = far[0]
    if oracle.haversine_m(lat[0], lng[0], lat[1], lng[1]) <= oracle.MAX_DIAG_M:
        far[2] = far[0]  # at least one tile-mate far enough away
        lat = lat.copy()
        lat[2] = lat[0] + 1.0
    assert not oracle.check_tiles(far, lat, lng).ok

    u, c = np.unique(ids, return_counts=True)
    counts = dict(zip(u.tolist(), c.tolist()))
    assert oracle.check_tile_counts(counts, ids, len(ids)).ok
    k = next(iter(counts))
    assert not oracle.check_tile_counts({**counts, k: counts[k] + 1}, ids, len(ids)).ok
    drop = dict(counts)
    del drop[k]
    assert not oracle.check_tile_counts(drop, ids, len(ids)).ok


def test_build():
    keys = np.array([f"p{i}" for i in range(100)], dtype=object)
    ids = np.random.default_rng(1).permutation(100)
    assert oracle.check_build("b", keys, ids, keys).ok
    assert not oracle.check_build("b", keys[:-1], ids[:-1], keys).ok  # missing key (ids still dense)
    dup = keys.copy()
    dup[5] = dup[6]
    assert not oracle.check_build("b", dup, ids, keys).ok
    gap = ids.copy()
    gap[gap == 99] = 100
    assert not oracle.check_build("b", keys, gap, keys).ok


def test_append():
    appended = ["a1", "a2", "a3"]
    found = {k: {k, "p1"} for k in appended}
    ids = np.arange(10)
    assert oracle.check_append(found, appended, ids).ok
    assert not oracle.check_append({**found, "a2": {"p1"}}, appended, ids).ok
    assert not oracle.check_append(found, appended, np.append(ids, 3)).ok


def test_benchmark_json_matches_run():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    sys.path.insert(0, run.ROOT)
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.SIZES)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
