"""Seeded input generation. Pure numpy/pandas: the program under test only
ever sees the tables written here.

Every table is a function of (seed, size) alone. Points follow one mix: a
fixed share of them in a few city-sized Gaussian clusters, the rest uniform
over the contiguous-US box. Queries are centred near corpus points, because
users query where the data is.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# contiguous-US box (the reference write/read benchmarks sample this box)
LAT_LO, LAT_HI = 24.396308, 49.384358
LNG_LO, LNG_HI = -125.0, -66.93457

M_PER_DEG = 111_194.9  # metres per degree of latitude on the mean sphere

# six city-sized clusters at fixed sites (jittered per seed) with fixed
# spreads, so every seed has the same density mix and a query's work varies
# little from seed to seed
CLUSTER_SITES = ((40.7, -74.0), (34.0, -118.2), (41.9, -87.6), (29.8, -95.4), (33.4, -112.1), (47.6, -122.3))
CLUSTER_SIGMA_DEG = (0.05, 0.07, 0.09, 0.11, 0.13, 0.15)  # 5-17 km
CLUSTER_SHARE = 0.4
RADIUS_M = (500.0, 3000.0)
CENTRE_JITTER_DEG = 0.005  # ~500 m around the chosen corpus point


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input, so resizing one input leaves
    the others unchanged."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode(), "little") % (1 << 63)])


def mixed_points(seed: int, stream: str, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """n points in seeded order: exactly CLUSTER_SHARE of them spread evenly
    over the clusters, the rest uniform. -> (lat, lng, in_cluster)."""
    r = _rng(seed, stream)
    site = np.asarray(CLUSTER_SITES) + _rng(seed, "sites").uniform(-0.5, 0.5, (len(CLUSTER_SITES), 2))
    sigma = np.asarray(CLUSTER_SIGMA_DEG)
    n_c = int(round(CLUSTER_SHARE * n))
    c = np.arange(n_c) % len(site)
    lat = np.concatenate([site[c, 0] + r.normal(0, 1, n_c) * sigma[c], r.uniform(LAT_LO, LAT_HI, n - n_c)])
    lng = np.concatenate([site[c, 1] + r.normal(0, 1, n_c) * sigma[c], r.uniform(LNG_LO, LNG_HI, n - n_c)])
    in_cluster = np.arange(n) < n_c
    order = r.permutation(n)
    return lat[order], lng[order], in_cluster[order]


def point_table(seed: int, stream: str, n: int, prefix: str) -> pd.DataFrame:
    """Point rows (key, kind, lat, lng); ``in_cluster`` is kept in attrs for
    query placement and never written."""
    lat, lng, in_cluster = mixed_points(seed, stream, n)
    pdf = pd.DataFrame(
        {"key": [f"{prefix}{i:07d}" for i in range(n)], "kind": "point", "lat": lat, "lng": lng}
    )
    pdf.attrs["in_cluster"] = in_cluster
    return pdf


def _near(corpus: pd.DataFrame, r: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n centres near corpus points, exactly CLUSTER_SHARE of them near
    clustered points."""
    in_cluster = corpus.attrs["in_cluster"]
    n_c = int(round(CLUSTER_SHARE * n))
    i = np.concatenate([
        r.choice(np.flatnonzero(in_cluster), n_c),
        r.choice(np.flatnonzero(~in_cluster), n - n_c),
    ])
    lat = corpus["lat"].to_numpy()[i] + r.normal(0, CENTRE_JITTER_DEG, n)
    lng = corpus["lng"].to_numpy()[i] + r.normal(0, CENTRE_JITTER_DEG, n)
    return lat, lng


def cap_batch(seed: int, stream: str, corpus: pd.DataFrame, n: int) -> pd.DataFrame:
    r = _rng(seed, stream)
    lat, lng = _near(corpus, r, n)
    return pd.DataFrame(
        {
            "query_id": [f"q{i:05d}" for i in range(n)],
            "kind": "cap",
            "lat": lat,
            "lng": lng,
            "radius_m": r.uniform(*RADIUS_M, n),
        }
    )


def polygon_batch(seed: int, stream: str, corpus: pd.DataFrame, n: int) -> pd.DataFrame:
    """Star-shaped polygons (5-8 vertices sorted by angle around the centre,
    so every ring is simple) of the cap radius range."""
    r = _rng(seed, stream)
    lat, lng = _near(corpus, r, n)
    verts = []
    for i in range(n):
        m = int(r.integers(5, 9))
        ang = np.sort(r.uniform(0, 2 * np.pi, m))
        rad = r.uniform(*RADIUS_M) * r.uniform(0.5, 1.0, m) / M_PER_DEG
        dlat = rad * np.sin(ang)
        dlng = rad * np.cos(ang) / np.cos(np.radians(lat[i]))
        verts.append([[float(a), float(b)] for a, b in zip(lat[i] + dlat, lng[i] + dlng)])
    return pd.DataFrame(
        {"query_id": [f"g{i:05d}" for i in range(n)], "kind": "polygon", "verts": verts}
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path
