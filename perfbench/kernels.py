"""Kernel section of the traced run: direct calls to the numpy kernels, no
Spark, at fixed sizes with inputs drawn from the run's seed. Each rate is
the median of REPEATS calls."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import inputs

from rgm import bitmap, cellmath, covering, geo, udfs

REPEATS = 3
N_POINTS = 500_000
N_CAPS = 1_000
N_POLYGONS = 250
N_POLY_POINTS = 100_000
N_RECTS = 30_000
N_GROUPS = 50_000


def _rate(items: int, fn) -> float:
    secs = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        secs.append(time.perf_counter() - t)
    return items / statistics.median(secs)


def run(seed: int) -> dict[str, float]:
    r = np.random.default_rng([seed, 7])
    lat, lng, in_cluster = inputs.mixed_points(seed, "kernels", N_POINTS)
    ref = pd.DataFrame({"lat": lat[:1000], "lng": lng[:1000]})
    ref.attrs["in_cluster"] = in_cluster[:1000]
    caps = inputs.cap_batch(seed, "kernel_caps", ref, N_CAPS)
    polys = inputs.polygon_batch(seed, "kernel_polys", ref, N_POLYGONS)
    rings = [np.asarray(v, dtype=np.float64) for v in polys["verts"]]
    ring = rings[0]
    poly_lat = ring[:, 0].mean() + r.normal(0, 0.02, N_POLY_POINTS)
    poly_lng = ring[:, 1].mean() + r.normal(0, 0.02, N_POLY_POINTS)

    # rects: 0.01-degree boxes around points near each ring, one ring per rect
    m8 = [v for v in rings if len(v) == 8] or rings[:1]
    rr = np.stack([m8[i % len(m8)] for i in range(N_RECTS)])
    c_lat = rr[:, :, 0].mean(axis=1) + r.normal(0, 0.01, N_RECTS)
    c_lng = rr[:, :, 1].mean(axis=1) + r.normal(0, 0.01, N_RECTS)
    half = 0.005

    # bitmap groups: sorted unique key ids in clustered groups, ~10 per group
    sizes = r.integers(1, 20, N_GROUPS)
    base = np.repeat(r.integers(0, 1 << 20, N_GROUPS).astype(np.uint32) // 64 * 64, sizes)
    off = np.concatenate([np.arange(s, dtype=np.uint32) * 3 for s in sizes])
    keys = base + off
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    ends = np.cumsum(sizes)
    blobs, _ = bitmap.encode_sorted_groups(keys, starts, ends)
    n_vals = int(sizes.sum())

    cov_rows = caps.assign(
        radius_m=caps["radius_m"], lat_lo=np.nan, lat_hi=np.nan, lng_lo=np.nan, lng_hi=np.nan,
        verts=None, cell_id=np.nan, max_cells=30,
    )
    cols = [cov_rows[c] for c in udfs.REGION_COLS]

    return {
        "cellmath.leaf_cells_per_s": _rate(N_POINTS, lambda: cellmath.latlng_to_cell(lat, lng)),
        "covering.caps_per_s": _rate(
            N_CAPS, lambda: covering.cover_caps_batch(caps["lat"], caps["lng"], caps["radius_m"], 30)
        ),
        "covering.polygons_per_s": _rate(N_POLYGONS, lambda: covering.cover_polygons_batch(rings, 30)),
        "geo.cap_tests_per_s": _rate(N_POINTS, lambda: geo.haversine_m(lat, lng, lat[::-1], lng[::-1])),
        "geo.polygon_tests_per_s": _rate(
            N_POLY_POINTS, lambda: geo.points_in_polygon(poly_lat, poly_lng, ring)
        ),
        "geo.rects_vs_rings_per_s": _rate(
            N_RECTS,
            lambda: geo.rects_vs_rings(c_lat - half, c_lat + half, c_lng - half, c_lng + half, rr),
        ),
        "bitmap.encode_values_per_s": _rate(n_vals, lambda: bitmap.encode_sorted_groups(keys, starts, ends)),
        "bitmap.decode_values_per_s": _rate(n_vals, lambda: bitmap.decode_many(blobs)),
        "udfs.compute_covers_rows_per_s": _rate(N_CAPS, lambda: udfs.compute_covers(*cols, bucket=3)),
    }
