"""Independent result checks. Brute force over the generated inputs with
numpy alone; nothing here imports ``rgm``.

Every check returns a ``Verdict``: the problems found (empty means the
result is correct) and the number of boundary ties it allowed either way.
Ties are results within a stated epsilon of a boundary, where a last-digit
floating-point difference may legitimately flip membership; they are counted
and reported, never silently dropped.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

EARTH_RADIUS_M = 6_371_010.0  # mean Earth radius, the S2 convention
DIST_EPS_M = 1e-3  # cap tie band: 1 mm
EDGE_EPS_DEG = 1e-7  # polygon tie band: ~1 cm from an edge in the lat/lng plane
TILE_LEVEL = 9
# S2 quadratic projection: the longest diagonal of a level-L cell is
# 2.438654594434021 / 2^L radians
MAX_DIAG_M = 2.438654594434021 / (1 << TILE_LEVEL) * EARTH_RADIUS_M


@dataclass
class Verdict:
    problems: list[str] = field(default_factory=list)
    ties: int = 0

    @property
    def ok(self) -> bool:
        return not self.problems


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(np.asarray(lng2) - np.asarray(lng1))
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


class Corpus:
    """Indexed points, sorted by latitude so each brute-force test only
    scans the latitude band a query can reach."""

    def __init__(self, keys, lat, lng):
        order = np.argsort(lat, kind="stable")
        self.keys = np.asarray(keys, dtype=object)[order]
        self.lat = np.asarray(lat, dtype=np.float64)[order]
        self.lng = np.asarray(lng, dtype=np.float64)[order]

    def band(self, lat_lo: float, lat_hi: float) -> slice:
        return slice(
            int(np.searchsorted(self.lat, lat_lo, "left")),
            int(np.searchsorted(self.lat, lat_hi, "right")),
        )


def cap_truth(corpus: Corpus, caps) -> dict:
    """query_id -> (keys strictly inside, keys within DIST_EPS_M of the rim)."""
    out = {}
    for q, la, ln, r in zip(caps["query_id"], caps["lat"], caps["lng"], caps["radius_m"]):
        reach = np.degrees((r + 1.0) / EARTH_RADIUS_M)
        b = corpus.band(la - reach, la + reach)
        d = haversine_m(corpus.lat[b], corpus.lng[b], la, ln)
        k = corpus.keys[b]
        out[q] = (set(k[d < r - DIST_EPS_M]), set(k[np.abs(d - r) <= DIST_EPS_M]))
    return out


def _seg_dist2(py, px, y1, x1, y2, x2) -> np.ndarray:
    """Squared planar distance of points (py, px) to segment (y1,x1)-(y2,x2)."""
    ey, ex = y2 - y1, x2 - x1
    l2 = ey * ey + ex * ex
    t = np.clip(((py - y1) * ey + (px - x1) * ex) / (l2 if l2 > 0 else 1.0), 0.0, 1.0)
    dy, dx = py - (y1 + t * ey), px - (x1 + t * ex)
    return dy * dy + dx * dx


def ray_cast(py: np.ndarray, px: np.ndarray, ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Even-odd ray casting in the (lat, lng) plane, ring closed implicitly.
    -> (inside, within EDGE_EPS_DEG of an edge)."""
    inside = np.zeros(len(py), dtype=bool)
    near = np.zeros(len(py), dtype=bool)
    m = len(ring)
    for i in range(m):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % m]
        if y1 != y2:
            spans = (y1 <= py) != (y2 <= py)
            xc = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            inside ^= spans & (px < xc)
        near |= _seg_dist2(py, px, y1, x1, y2, x2) <= EDGE_EPS_DEG**2
    return inside, near


def polygon_truth(corpus: Corpus, polys) -> dict:
    """query_id -> (keys strictly inside, keys within EDGE_EPS_DEG of an edge)."""
    out = {}
    for q, verts in zip(polys["query_id"], polys["verts"]):
        ring = np.asarray([list(v) for v in verts], dtype=np.float64)
        b = corpus.band(ring[:, 0].min() - EDGE_EPS_DEG, ring[:, 0].max() + EDGE_EPS_DEG)
        lng = corpus.lng[b]
        sel = (lng >= ring[:, 1].min() - EDGE_EPS_DEG) & (lng <= ring[:, 1].max() + EDGE_EPS_DEG)
        k = corpus.keys[b][sel]
        inside, near = ray_cast(corpus.lat[b][sel], lng[sel], ring)
        out[q] = (set(k[inside & ~near]), set(k[near]))
    return out


def check_sets(name: str, got: dict, truth: dict) -> Verdict:
    """Exact key sets per query: everything strictly inside, nothing outside;
    tie keys may be in or out and are counted."""
    v = Verdict()
    for q in got.keys() - truth.keys():
        v.problems.append(f"{name}: result for unknown query {q}")
    for q, (inside, ties) in truth.items():
        g = got.get(q, set())
        missing, extra = inside - g, g - inside - ties
        if missing:
            v.problems.append(f"{name} {q}: {len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
        if extra:
            v.problems.append(f"{name} {q}: {len(extra)} keys outside, e.g. {sorted(extra)[:3]}")
        v.ties += len(ties)
    return v


def check_count(got: dict, truth: dict, candidates: dict) -> Verdict:
    """count_keys: n_keys is at least the exact count for every query, and
    equals the number of distinct cell-level candidates (search with
    refinement off) for every query in ``candidates``. A query with no
    candidate has no row and counts as 0."""
    v = Verdict()
    for q in got.keys() - truth.keys():
        v.problems.append(f"count: result for unknown query {q}")
    for q, (inside, _) in truth.items():
        n = got.get(q, 0)
        if n < len(inside):
            v.problems.append(f"count {q}: n_keys {n} below exact count {len(inside)}")
        if q in candidates and n != candidates[q]:
            v.problems.append(f"count {q}: n_keys {n} != {candidates[q]} candidate keys")
    return v


def cell_level(ids: np.ndarray) -> np.ndarray:
    """S2 cell level from the id's bit pattern (-1 for an invalid id)."""
    u = np.asarray(ids).astype(np.int64).view(np.uint64)
    low = u & (~u + np.uint64(1))  # lowest set bit
    tz = np.full(len(u), -1, dtype=np.int64)
    nz = low != 0
    tz[nz] = np.round(np.log2(low[nz].astype(np.float64))).astype(np.int64)
    valid = nz & (tz % 2 == 0) & ((u >> np.uint64(61)) < np.uint64(6))
    return np.where(valid, 30 - tz // 2, -1)


def check_tiles(tile_id: np.ndarray, lat: np.ndarray, lng: np.ndarray) -> Verdict:
    """Point-level tile assignment: every id is a level-9 cell and points that
    share a tile lie within the level-9 maximum diagonal of one another
    (tested against each tile's first point)."""
    v = Verdict()
    lv = cell_level(tile_id)
    if (lv != TILE_LEVEL).any():
        v.problems.append(f"tiles: {int((lv != TILE_LEVEL).sum())} ids not at level {TILE_LEVEL}")
    order = np.argsort(tile_id, kind="stable")
    t = np.asarray(tile_id)[order]
    first = np.concatenate([[0], np.nonzero(t[1:] != t[:-1])[0] + 1])
    anchor = np.repeat(first, np.diff(np.append(first, len(t))))
    d = haversine_m(lat[order], lng[order], lat[order][anchor], lng[order][anchor])
    if (d > MAX_DIAG_M).any():
        v.problems.append(f"tiles: {int((d > MAX_DIAG_M).sum())} points farther than {MAX_DIAG_M:.0f} m from a tile-mate")
    return v


def check_tile_counts(got: dict, tile_id: np.ndarray, n_input: int) -> Verdict:
    """Per-tile counts sum to the input size and match the point-level tiles."""
    v = Verdict()
    if sum(got.values()) != n_input:
        v.problems.append(f"tile counts sum to {sum(got.values())}, input has {n_input}")
    ids, cnt = np.unique(np.asarray(tile_id), return_counts=True)
    want = dict(zip(ids.tolist(), cnt.tolist()))
    if got != want:
        diff = [t for t in want.keys() | got.keys() if got.get(t) != want.get(t)]
        v.problems.append(f"tile counts differ on {len(diff)} tiles, e.g. {diff[:3]}")
    lv = cell_level(np.fromiter(got.keys(), np.int64, len(got)))
    if (lv != TILE_LEVEL).any():
        v.problems.append(f"tile counts: {int((lv != TILE_LEVEL).sum())} ids not at level {TILE_LEVEL}")
    return v


def check_build(name: str, keys: np.ndarray, key_ids: np.ndarray, input_keys) -> Verdict:
    """Keys table: each input key exactly once, key ids dense from 0."""
    v = Verdict()
    uk, n = np.unique(keys, return_counts=True)
    if (n > 1).any():
        v.problems.append(f"{name}: {int((n > 1).sum())} keys stored more than once")
    want = set(input_keys)
    got = set(uk.tolist())
    if got != want:
        v.problems.append(f"{name}: {len(want - got)} input keys missing, {len(got - want)} foreign keys")
    if not np.array_equal(np.sort(np.asarray(key_ids)), np.arange(len(key_ids))):
        v.problems.append(f"{name}: key ids are not dense from 0")
    return v


def check_append(found: dict, appended, key_ids: np.ndarray) -> Verdict:
    """found: appended key -> keys returned by a search around its location.
    Every appended key finds itself, and no key id is used twice."""
    v = Verdict()
    lost = [k for k in appended if k not in found.get(k, set())]
    if lost:
        v.problems.append(f"append: {len(lost)} appended keys not found near their location, e.g. {lost[:3]}")
    _, n = np.unique(np.asarray(key_ids), return_counts=True)
    if (n > 1).any():
        v.problems.append(f"append: {int((n > 1).sum())} key ids used more than once")
    return v
