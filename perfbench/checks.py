"""Output checks, run after the timed passes.

- Queries: every pass's result is hashed with ``oracle.canonical_hash``
  and compared with the hash of its DuckDB oracle on the same tables,
  computed in the same run. A query without an oracle must return its
  declared schema, at least one row, and the same rows in every pass.
- Ingest: each output tree is read back with pyarrow; per tile, its row
  count and integer checksums must equal a direct ``decode_geotiff`` +
  ``flatten_raster`` of the same bytes, and the two read paths must hold
  identical rows (equal per-tile sums of a 64-bit row hash).
"""

from __future__ import annotations

import time

import numpy as np


def oracle_hashes(sf_dir: str, oracles: dict[str, str], names) -> dict[str, str]:
    """Canonical hash of each DuckDB oracle result among ``names``."""
    from aw3d30_parquet_spark.oracle import canonical_hash, duckdb_connection

    con = duckdb_connection(sf_dir)
    try:
        return {n: canonical_hash(con.execute(oracles[n]).df()) for n in names if n in oracles}
    finally:
        con.close()


def check_query(frame, dtypes, got: str, want: str | None, schema, cold: str) -> str | None:
    """None if a collected result is right, else a one-line reason.
    ``got`` is the frame's canonical hash. With an oracle hash ``want``
    the two must match; without one the result must have ``schema``, at
    least one row and the hash ``cold`` of the cold pass's result."""
    if want is not None:
        return None if got == want else f"hash {got[:12]} != oracle {want[:12]}"
    if schema is None:
        return "no oracle and no declared schema"
    if tuple(dtypes) != tuple(schema):
        return f"schema {list(dtypes)} != {list(schema)}"
    if frame.empty:
        return "empty result"
    return None if got == cold else f"hash {got[:12]} != cold pass {cold[:12]}"


def direct_tile_sums(tif_path: str) -> tuple[dict, float, float]:
    """Per-tile reference checksums from a direct single-thread decode
    and flatten, plus the decode and flatten seconds."""
    from aw3d30_parquet_spark.sources.tiff import decode_geotiff, flatten_raster

    with open(tif_path, "rb") as fh:
        data = fh.read()
    t0 = time.perf_counter()
    band, gt = decode_geotiff(data)
    t1 = time.perf_counter()
    chunks = list(flatten_raster(band, gt))
    t2 = time.perf_counter()
    h, w = band.shape
    elev = np.concatenate([c[2] for c in chunks]).astype(np.int64).reshape(h, w)
    sums = {
        "rows": int(elev.size),
        "elev": int(elev.sum()),
        "elev_x": int(elev.sum(axis=0) @ np.arange(w, dtype=np.int64)),
        "elev_y": int(elev.sum(axis=1) @ np.arange(h, dtype=np.int64)),
        "lat": float(sum(c[0].sum() for c in chunks)),
        "lon": float(sum(c[1].sum() for c in chunks)),
    }
    return sums, t1 - t0, t2 - t1


def written_tile_sums(out_dir: str, size: int) -> dict[tuple[int, int], dict]:
    """The same checksums per tile over a written output tree, read back
    with pyarrow (a reader independent of the engine), plus ``row_hash``:
    a wrapping sum of a 64-bit hash of each row's bytes, which compares
    two trees row for row whatever their order."""
    import pyarrow.dataset as pads

    t = pads.dataset(out_dir, format="parquet", partitioning="hive").to_table()
    cols = {c: t.column(c).to_numpy() for c in ("tile_lat", "tile_lon", "lat", "lon", "elevation")}
    out = {}
    key = cols["tile_lat"].astype(np.int64) * 1000 + cols["tile_lon"]
    for k in np.unique(key):
        m = key == k
        la, lo = int(cols["tile_lat"][m][0]), int(cols["tile_lon"][m][0])
        lat, lon = cols["lat"][m], cols["lon"][m]
        e = cols["elevation"][m].astype(np.int64)
        x = np.round((lon - lo) * size).astype(np.int64)
        y = np.round((la + 1 - lat) * size).astype(np.int64)
        h = (
            lat.view(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            ^ lon.view(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
            ^ e.astype(np.uint64) * np.uint64(0x165667B19E3779F9)
        )
        h ^= h >> np.uint64(29)
        out[(la, lo)] = {
            "rows": int(e.size),
            "elev": int(e.sum()),
            "elev_x": int((e * x).sum()),
            "elev_y": int((e * y).sum()),
            "lat": float(lat.sum()),
            "lon": float(lon.sum()),
            "row_hash": int(h.sum(dtype=np.uint64)),
        }
    return out


#: integer per-tile sums shared with the direct decode; exact whatever
#: the row order (the written side adds ``row_hash``)
EXACT_SUMS = ("rows", "elev", "elev_x", "elev_y")


def tile_mismatch(want: dict, got: dict | None) -> str | None:
    """None if a tile's written checksums match the direct ones (exact
    on the integer sums, 1e-9 relative on the coordinate sums)."""
    if got is None:
        return "tile missing from output"
    for k in EXACT_SUMS:
        if want[k] != got[k]:
            return f"{k} {got[k]} != {want[k]}"
    for k in ("lat", "lon"):
        if abs(want[k] - got[k]) > 1e-9 * abs(want[k]):
            return f"{k} sum {got[k]!r} != {want[k]!r}"
    return None
