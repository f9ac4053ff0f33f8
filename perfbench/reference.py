"""Independent answers the benchmark checks the engine's outputs against.

Nothing here calls ``geo_spark``: the PIP references are closed-form or a
plain numpy even-odd test, and the query references are the DuckDB twins
from ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import os

import numpy as np

import gen


def grid_counts(seed: int, n_docs: int) -> dict[int, int]:
    """Per-polygon counts for the flagship workload from the generator's own
    micro-degree coordinates: the 10-degree floor picks the square, and a
    point on or inside a hole square drops out (the ``_HOLE_FILTER`` rule of
    the DuckDB oracle)."""
    _, lat_md, lon_md = gen.flagship_points(seed, n_docs)
    lon = lon_md.astype(np.float64) / 1_000_000.0
    lat = lat_md.astype(np.float64) / 1_000_000.0
    ix = np.floor((lon + 180.0) / gen.GRID_DEG).astype(np.int64)
    iy = np.floor((lat + 90.0) / gen.GRID_DEG).astype(np.int64)
    pid = iy * gen.GRID_NX + ix
    x0 = -180.0 + ix * gen.GRID_DEG
    y0 = -90.0 + iy * gen.GRID_DEG
    lo, hi = gen.HOLE_INSET, gen.GRID_DEG - gen.HOLE_INSET
    in_hole = (
        (pid % gen.HOLE_EVERY == 0)
        & (lon >= x0 + lo) & (lon <= x0 + hi)
        & (lat >= y0 + lo) & (lat <= y0 + hi)
    )
    ids, counts = np.unique(pid[~in_hole], return_counts=True)
    return dict(zip(ids.tolist(), counts.tolist()))


def even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd point-in-polygon over all rings (shell and holes alike).

    A horizontal ray from each point crosses each edge whose y-span
    half-open contains the point's y; an odd total is inside. Rings are
    ``(xs, ys)`` closed coordinate arrays. Points exactly on an edge are
    not given boundary semantics, so inputs must keep clear of edges.
    """
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        for a, b, c, d in zip(x1, y1, x2, y2):
            crosses = (b > py) != (d > py)
            if not crosses.any():
                continue
            xi = a + (py - b) * (c - a) / np.where(d == b, 1.0, d - b)
            inside ^= crosses & (px < xi)
    return inside


def polygon_counts(points, polygons) -> dict[int, int]:
    """Points per polygon with the even-odd test, after a bbox prefilter on
    lon-sorted points. ``points``/``polygons`` are pyarrow tables in the
    generator schemas."""
    lon = points.column("lon").to_numpy()
    lat = points.column("lat").to_numpy()
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    out = {}
    for row in polygons.to_pylist():
        a = np.searchsorted(slon, row["xmin"], side="left")
        b = np.searchsorted(slon, row["xmax"], side="right")
        px, py = slon[a:b], slat[a:b]
        keep = (py >= row["ymin"]) & (py <= row["ymax"])
        px, py = px[keep], py[keep]
        if len(px) == 0:
            continue
        rings = [_xy(row["exterior"])] + [_xy(r) for r in row["interiors"]]
        n = int(even_odd(px, py, rings).sum())
        if n:
            out[int(row["polygon_id"])] = n
    return out


def _xy(ring):
    return (
        np.asarray([c["x"] for c in ring], dtype=np.float64),
        np.asarray([c["y"] for c in ring], dtype=np.float64),
    )


def oracle_hashes(data_dir: str, names, oracle_sql: dict, canon, value_hash) -> dict[str, str]:
    """Value hash of each query's DuckDB twin over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for entry in sorted(os.listdir(data_dir)):
            if entry.endswith(".parquet"):
                table = entry[: -len(".parquet")]
                path = os.path.join(data_dir, entry, "*.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return {n: value_hash(canon(con.execute(oracle_sql[n]).fetchdf())) for n in names}
    finally:
        con.close()
