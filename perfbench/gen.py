"""Seeded input generation for the benchmark.

Every input is a pure function of (seed, size), written as parquet with
an explicit file count, so the engine and the DuckDB oracle read the
same bytes. Nothing here imports the engine except the PNG encoder used
for the payload column.

Shapes:

- ``images``: the F0 image+caption table (FIXTURES.md): ``image_id``,
  ``bytes``, ``w``, ``h``, ``fmt``, ``caption``, ``phash``, ``lon``,
  ``lat``. lon/lat come from the bits of a seeded splitmix64 ``phash``;
  every 10th row sits exactly on one of 90 seeded EXIF-style hot points.
- ``squares``: 25 seeded axis-aligned squares (half-extents 3..7 deg
  evenly spaced, placed and ordered by the seed; about 4% of the globe)
  with a WKB polygon column.
- ``dense``: seeded points spread uniformly over the globe.
- ``clusters``: seeded planar points in Gaussian blobs plus uniform noise,
  the input of the DBSCAN maintenance loop.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HOT = 90
N_SQUARES = 25
PAYLOAD_SIDE = 8  # payload images are PAYLOAD_SIDE x PAYLOAD_SIDE RGB

WORDS = (
    "ocean river mountain forest desert island valley canyon glacier coast "
    "harbor bridge tower temple market castle garden station museum plaza "
    "sunset sunrise storm aurora horizon meadow lagoon reef dune summit"
).split()


def splitmix64(i: np.ndarray) -> np.ndarray:
    z = i.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _write(table: pa.Table, path: str, files: int) -> str:
    """Write ``table`` as ``files`` parquet files of contiguous rows."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
    return path


def _payloads() -> tuple[list[bytes], list[bytes]]:
    """The F0 pixel law depends on i only through i*31 mod 256, so 256
    raw and 256 PNG payloads cover every row."""
    from geomesa_sql_spark.io.images import encode_png

    s = PAYLOAD_SIDE
    x = np.arange(s)[None, :, None]
    y = np.arange(s)[:, None, None]
    c = np.arange(3)[None, None, :]
    raw, png = [], []
    for i in range(256):
        px = ((i * 31 + x * 7 + y * 13 + c * 97) % 256).astype(np.uint8)
        raw.append(px.tobytes())
        png.append(encode_png(px))
    return raw, png


def hot_points(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 1])
    return np.column_stack(
        [rng.uniform(-170.0, 170.0, N_HOT), rng.uniform(-70.0, 70.0, N_HOT)]
    )


def images(seed: int, n: int, path: str, files: int) -> str:
    idx = np.arange(n, dtype=np.int64)
    ph = splitmix64((np.uint64(seed) << np.uint64(32)) + idx.astype(np.uint64))
    lon = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32 * 360 - 180
    lat = (ph >> np.uint64(32)).astype(np.float64) / 2**32 * 180 - 90
    hot = idx % 10 == 0
    hp = hot_points(seed)[(idx[hot] // 10) % N_HOT]
    lon[hot], lat[hot] = hp[:, 0], hp[:, 1]
    raw, png = _payloads()
    is_png = idx % 2 == 1
    k = (idx % 256).tolist()
    payload = [png[j] if p else raw[j] for j, p in zip(k, is_png.tolist())]
    base = (idx.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(len(WORDS))
    words = np.array(WORDS, dtype=object)
    phrase = words[base.astype(np.int64) % len(WORDS)]
    for j in range(1, 5):
        phrase = phrase + " " + words[(base.astype(np.int64) + j * 97) % len(WORDS)]
    caption = [f"caption {i:06d} {p}" for i, p in zip(idx.tolist(), phrase.tolist())]
    table = pa.table(
        {
            "image_id": pa.array([f"#{i}" for i in idx.tolist()], pa.string()),
            "bytes": pa.array(payload, pa.binary()),
            "w": pa.array(np.full(n, PAYLOAD_SIDE, np.int32)),
            "h": pa.array(np.full(n, PAYLOAD_SIDE, np.int32)),
            "fmt": pa.array(np.where(is_png, "png", "raw").tolist(), pa.string()),
            "caption": pa.array(caption, pa.string()),
            "phash": pa.array(ph.view(np.int64)),
            "lon": pa.array(lon),
            "lat": pa.array(lat),
        }
    )
    return _write(table, path, files)


def box_wkb(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    """Little-endian WKB POLYGON of an axis-aligned box (closed ring)."""
    ring = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]
    out = struct.pack("<BIII", 1, 3, 1, len(ring))
    return out + b"".join(struct.pack("<dd", x, y) for x, y in ring)


def squares(seed: int, path: str) -> str:
    rng = np.random.default_rng([seed, 2])
    cx = rng.uniform(-170.0, 170.0, N_SQUARES)
    cy = rng.uniform(-75.0, 75.0, N_SQUARES)
    # the same half-extents on every seed, in seeded order, so the squares'
    # total area (and with it the join's work) does not depend on the seed
    hs = rng.permutation(np.linspace(3.0, 7.0, N_SQUARES))
    minx, miny, maxx, maxy = cx - hs, cy - hs, cx + hs, cy + hs
    table = pa.table(
        {
            "sq_id": pa.array(np.arange(N_SQUARES, dtype=np.int64)),
            "minx": pa.array(minx),
            "miny": pa.array(miny),
            "maxx": pa.array(maxx),
            "maxy": pa.array(maxy),
            "poly": pa.array(
                [box_wkb(*b) for b in zip(minx, miny, maxx, maxy)], pa.binary()
            ),
        }
    )
    return _write(table, path, 1)


def dense(seed: int, m: int, path: str, files: int) -> str:
    rng = np.random.default_rng([seed, 3])
    table = pa.table(
        {
            "did": pa.array(np.arange(m, dtype=np.int64)),
            "dlon": pa.array(rng.uniform(-180.0, 180.0, m)),
            "dlat": pa.array(rng.uniform(-90.0, 90.0, m)),
        }
    )
    return _write(table, path, files)


def cluster_points(seed: int, k: int, id0: int = 0) -> dict[str, np.ndarray]:
    """``k`` planar points: 70% in 40 Gaussian blobs, 30% uniform noise,
    over x in [-60, 60), y in [-30, 30); ids ``id0 .. id0+k-1``."""
    rng = np.random.default_rng([seed, 4, id0])
    centers = np.random.default_rng([seed, 5]).uniform(
        [-55.0, -25.0], [55.0, 25.0], (40, 2)
    )
    n_blob = int(k * 0.7)
    c = centers[rng.integers(0, len(centers), n_blob)]
    blob = c + rng.normal(0.0, 0.6, (n_blob, 2))
    noise = rng.uniform([-60.0, -30.0], [60.0, 30.0], (k - n_blob, 2))
    xy = np.vstack([blob, noise])
    return {"pid": np.arange(id0, id0 + k, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}


def clusters(seed: int, k: int, path: str, files: int) -> str:
    return _write(pa.table(cluster_points(seed, k)), path, files)
