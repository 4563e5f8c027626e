"""Benchmark inputs, each a pure function of (row id, seed).

Nothing here depends on partitioning, slot count or Spark's own random
functions, so the same seed gives the same rows at any parallelism.
The benchmark owns these generators, so a change to the engine's
synthetic sources cannot silently change what is measured.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

_M64 = 0xFFFFFFFFFFFFFFFF


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash -> float64 in [0, 1)."""
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def points_from_ids(ids, seed: int):
    """(lat_deg, lng_deg, res) for each id: uniform on the sphere, with a
    per-row resolution sweep over 7..12."""
    ids = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    salt = np.uint64((seed * 0x2545F4914F6CDD1D) & _M64)
    h1 = mix64(ids ^ salt)
    h2 = mix64(h1)
    lat = np.degrees(np.arcsin(2.0 * _unit(h1) - 1.0))
    lng = 360.0 * _unit(h2) - 180.0
    res = (7 + (h2 & np.uint64(0xFFFF)) % np.uint64(6)).astype(np.int32)
    return lat, lng, res


def _points_batches(batches, seed: int):
    import pyarrow as pa

    for b in batches:
        ids = b.column(0).to_numpy()
        lat, lng, res = points_from_ids(ids, seed)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(lat), pa.array(lng), pa.array(res)],
            names=["id", "lat", "lng", "res"],
        )


def points_frame(spark, n: int, seed: int, partitions: int):
    """DataFrame (id long, lat double, lng double, res int) of n points."""
    return spark.range(0, n, 1, partitions).mapInArrow(
        functools.partial(_points_batches, seed=seed),
        "id long, lat double, lng double, res int",
    )


def _polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB Polygon with one closed (lng, lat) ring."""
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring)) + ring.astype("<f8").tobytes()


def polygons(n: int, seed: int):
    """(poly_ids, wkbs): n convex-ish vertex fans at seeded centres.

    Radii are stratified over 0.5..6 degrees and then shuffled, so the
    total polygon area, and with it the coverage size and the share of
    points and images that match, barely changes from seed to seed."""
    rng = np.random.default_rng(seed)
    radii = rng.permutation(0.5 + 5.5 * (np.arange(n) + rng.uniform(0, 1, n)) / n)
    ids, wkbs = [], []
    for i in range(n):
        clat = rng.uniform(-70, 70)
        clng = rng.uniform(-175, 175)
        nv = int(rng.integers(5, 24))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rr = radii[i] * rng.uniform(0.6, 1.0, nv)
        ring = np.stack([clng + rr * np.cos(ang), clat + rr * np.sin(ang) * 0.8], axis=-1)
        ring = np.vstack([ring, ring[:1]])
        ids.append(f"poly{i:05d}")
        wkbs.append(_polygon_wkb(ring))
    return ids, wkbs


def polygons_frame(spark, n: int, seed: int):
    """DataFrame (poly_id string, wkb binary) of `polygons(n, seed)`."""
    ids, wkbs = polygons(n, seed)
    return spark.createDataFrame(list(zip(ids, wkbs)), "poly_id string, wkb binary")
