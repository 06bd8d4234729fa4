"""Seeded AW3D30-like terrain tiles for the ingest workload.

Each tile is smooth relief (four octaves of bilinear value noise) plus
per-pixel noise of a few metres, encoded the way GDAL ships AW3D30:
deflate with horizontal predictor 2. The demo ramp ``1000*y + x``
compresses far better than real terrain and would misstate both the
decode time and the Parquet bytes per row.

Tiles are cached under the benchmark's cache directory, keyed by
(seed, size); generating them is never inside a timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

#: (grid cells across the tile, amplitude in metres) per octave
_OCTAVES = ((3, 140.0), (12, 45.0), (48, 14.0), (192, 4.0))
#: per-pixel noise half-width in metres
_NOISE = 2
#: seed directories kept in the cache per tile size; older ones are deleted
_KEEP_SEEDS = 3


def _upsample(grid: np.ndarray, size: int) -> np.ndarray:
    """Bilinear upsample of a (g+1)x(g+1) lattice to size x size."""
    g = grid.shape[0] - 1
    t = np.linspace(0.0, g, size, endpoint=False)
    i = t.astype(np.int64)
    f = (t - i)[:, None]
    rows = grid[i] * (1.0 - f) + grid[i + 1] * f
    f = f.T
    return rows[:, i] * (1.0 - f) + rows[:, i + 1] * f


def terrain(seed: int, lat: int, lon: int, size: int) -> np.ndarray:
    """Deterministic int32 elevation band for one tile."""
    rng = np.random.default_rng([seed, lat + 90, lon + 180])
    band = np.full((size, size), 20.0)
    for cells, amp in _OCTAVES:
        band += amp * _upsample(rng.random((cells + 1, cells + 1)), size)
    band += rng.integers(-_NOISE, _NOISE + 1, size=(size, size))
    return band.astype(np.int32)


def ensure_tiles(cache_dir: str, seed: int, inside: list, outside: list, size: int) -> str:
    """Directory holding the seeded tiles, generating the missing ones.
    Out-of-region tiles are
    full-size copies of the first in-region tile under their own names:
    region pruning must skip them by name, so their content never
    matters unless pruning fails (which the output check catches)."""
    from aw3d30_parquet_spark.sources.geotiff import tile_key

    root = os.path.join(cache_dir, "tiles")
    out_dir = os.path.join(root, f"seed{seed}_size{size}")
    os.makedirs(out_dir, exist_ok=True)

    def path(lat: int, lon: int) -> str:
        return os.path.join(out_dir, f"{tile_key(lat, lon)}.tif")

    from aw3d30_parquet_spark.sources.tiff import encode_geotiff

    for lat, lon in inside:
        if not os.path.exists(path(lat, lon)):
            gt = (float(lon), 1.0 / size, 0.0, float(lat + 1), 0.0, -1.0 / size)
            data = encode_geotiff(
                terrain(seed, lat, lon, size), gt, "deflate", predictor=2,
                rows_per_strip=16,
            )
            with open(path(lat, lon) + ".part", "wb") as fh:
                fh.write(data)
            os.replace(path(lat, lon) + ".part", path(lat, lon))
    for lat, lon in outside:
        if not os.path.exists(path(lat, lon)):
            shutil.copyfile(path(*inside[0]), path(lat, lon) + ".part")
            os.replace(path(lat, lon) + ".part", path(lat, lon))
    os.utime(out_dir)
    others = sorted(
        (
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.endswith(f"_size{size}")
        ),
        key=os.path.getmtime, reverse=True,
    )
    for stale in others[_KEEP_SEEDS:]:
        shutil.rmtree(stale, ignore_errors=True)
    return out_dir
