"""Seeded input generators for the two PIP workloads.

Every table is a pure function of ``(seed, size)`` and is written with
pyarrow, so the program under test only ever sees parquet files. Nothing here
imports ``geo_spark``: a change to the engine's own synthesizers cannot change
the workload. (``query_mix`` reads the fixed test tables under
``perfbench/testdata/`` instead; its seed only shuffles the query order.)

Tables are written as parquet *directories* of part files
(``name.parquet/part-<i>.parquet``), as a parallel job would write them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The flagship grid: 10-degree squares, a centred 2-degree hole on every 17th.
GRID_DEG = 10.0
GRID_NX, GRID_NY = 36, 18
HOLE_EVERY = 17
HOLE_INSET = 4.0

# ~25% of flagship points fall into one 1x1-degree hotspot (FIXTURES.md §1).
HOTSPOT_LON_MD, HOTSPOT_LAT_MD = 10_000_000, 50_000_000
HOTSPOT_SHARE = 0.25
# pip_many_polygons: a Gaussian hotspot of points (degrees)
HOT_LON, HOT_LAT, HOT_SIGMA = 10.5, 50.5, 0.5
ZERO_MARKER_SHARE = 0.14
TWO_MARKER_SHARE = 0.09

# point-side tables are split into this many files: the scan then has one
# split per file, as a table written by a parallel job would
POINT_PARTS = 8

STAR_VERTICES = 32
STAR_HOLE_SHARE = 0.10

_COORD = pa.struct([("x", pa.float64()), ("y", pa.float64())])
POLYGON_SCHEMA = pa.schema(
    [
        ("polygon_id", pa.int64()),
        ("name", pa.string()),
        ("exterior", pa.list_(_COORD)),
        ("interiors", pa.list_(pa.list_(_COORD))),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
    ]
)

_LANGS = ["en", "de", "es", "fr", "zh"]


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` as ``parts`` equal part files, so the scan has as many
    splits (a single small file is read by one task)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def _ring(xs, ys) -> list[dict]:
    return [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)]


def _off_grid(md: np.ndarray) -> np.ndarray:
    """Nudge micro-degree values off the 10-degree grid lines so every point
    lies strictly inside one grid square."""
    return np.where(md % 10_000_000 == 0, md + 1, md)


# ---------------------------------------------------------------------------
# pip_flagship: CC-style documents with geo:<lat>,<lon> markers + 10° grid
# ---------------------------------------------------------------------------


def flagship_points(seed: int, n_docs: int):
    """Per-marker ``(doc_index, lat_md, lon_md)`` arrays, markers in text order."""
    rng = np.random.default_rng([seed, 1])
    u = rng.random(n_docs)
    n_markers = np.where(u < ZERO_MARKER_SHARE, 0, np.where(u < ZERO_MARKER_SHARE + TWO_MARKER_SHARE, 2, 1))
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), n_markers)
    m = len(doc)
    hot = rng.random(m) < HOTSPOT_SHARE
    lon = np.where(
        hot,
        HOTSPOT_LON_MD + rng.integers(0, 1_000_000, m),
        rng.integers(-180_000_000, 180_000_000, m),
    )
    lat = np.where(
        hot,
        HOTSPOT_LAT_MD + rng.integers(0, 1_000_000, m),
        rng.integers(-90_000_000, 90_000_000, m),
    )
    return doc, _off_grid(lat), _off_grid(lon)


def flagship_documents(seed: int, n_docs: int) -> pa.Table:
    doc, lat, lon = flagship_points(seed, n_docs)
    rng = np.random.default_rng([seed, 2])
    filler_reps = rng.integers(1, 6, n_docs)
    langs = rng.integers(0, len(_LANGS), n_docs)
    markers = [""] * n_docs
    for d, la, lo in zip(doc.tolist(), lat.tolist(), lon.tolist()):
        markers[d] += f" geo:{la},{lo}"
    text = [
        f"Crawl snapshot body text for document {i}. "
        + "lorem ipsum dolor sit amet " * int(filler_reps[i])
        + markers[i]
        + " end."
        for i in range(n_docs)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "url": [f"https://site{i % 1000}.example/page/{i}" for i in range(n_docs)],
            "text": text,
            "lang": [_LANGS[k] for k in langs.tolist()],
        }
    )


def grid_polygons() -> pa.Table:
    """The 648 10-degree squares (CCW shells) with CW square holes on every
    17th square, schema per FIXTURES.md §2."""
    rows = {k: [] for k in POLYGON_SCHEMA.names}
    for iy in range(GRID_NY):
        for ix in range(GRID_NX):
            pid = iy * GRID_NX + ix
            x0, y0 = -180.0 + ix * GRID_DEG, -90.0 + iy * GRID_DEG
            x1, y1 = x0 + GRID_DEG, y0 + GRID_DEG
            holes = []
            if pid % HOLE_EVERY == 0:
                hx0, hy0, hx1, hy1 = x0 + HOLE_INSET, y0 + HOLE_INSET, x1 - HOLE_INSET, y1 - HOLE_INSET
                holes.append(_ring([hx0, hx0, hx1, hx1, hx0], [hy0, hy1, hy1, hy0, hy0]))
            rows["polygon_id"].append(pid)
            rows["name"].append(f"cell_{ix}_{iy}")
            rows["exterior"].append(_ring([x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0]))
            rows["interiors"].append(holes)
            for k, v in (("xmin", x0), ("ymin", y0), ("xmax", x1), ("ymax", y1)):
                rows[k].append(v)
    return pa.table(rows, schema=POLYGON_SCHEMA)


# ---------------------------------------------------------------------------
# pip_many_polygons: lon/lat points + concave star polygons
# ---------------------------------------------------------------------------


def many_points(seed: int, n_points: int) -> pa.Table:
    """Uniform world points plus a 25% Gaussian hotspot around (10.5E, 50.5N)."""
    rng = np.random.default_rng([seed, 3])
    hot = rng.random(n_points) < HOTSPOT_SHARE
    lon = np.where(hot, rng.normal(HOT_LON, HOT_SIGMA, n_points), rng.uniform(-180.0, 180.0, n_points))
    lat = np.where(hot, rng.normal(HOT_LAT, HOT_SIGMA, n_points), rng.uniform(-90.0, 90.0, n_points))
    return pa.table(
        {
            "point_id": pa.array(np.arange(n_points, dtype=np.int64)),
            "lon": pa.array(np.clip(lon, -179.999, 179.999)),
            "lat": pa.array(np.clip(lat, -89.999, 89.999)),
        }
    )


def star_rings(cx: float, cy: float, r_out: float, r_in: float, phase: float, with_hole: bool):
    """A concave star: CCW shell alternating outer/inner radius, closed; an
    optional CW octagon hole well inside the inner radius."""
    k = np.arange(STAR_VERTICES)
    ang = phase + 2.0 * np.pi * k / STAR_VERTICES
    rad = np.where(k % 2 == 0, r_out, r_in)
    xs = np.append(cx + rad * np.cos(ang), cx + rad[0] * np.cos(ang[0]))
    ys = np.append(cy + rad * np.sin(ang), cy + rad[0] * np.sin(ang[0]))
    holes = []
    if with_hole:
        h = np.arange(8)[::-1]  # clockwise
        hang = 2.0 * np.pi * h / 8
        hx = cx + 0.4 * r_in * np.cos(hang)
        hy = cy + 0.4 * r_in * np.sin(hang)
        holes.append((np.append(hx, hx[0]), np.append(hy, hy[0])))
    return (xs, ys), holes


def _jittered_grid(rng, n: int, x0: float, y0: float, size: float):
    """``n`` centres in the square ``[x0, x0 + size] x [y0, y0 + size]``, one
    uniform point in each of ``n`` seeded cells of a k x k grid: every seed
    then puts about the same polygon area near the hotspot's centre, so the
    joined-point count hardly moves with the seed."""
    k = int(np.ceil(np.sqrt(n)))
    cells = rng.permutation(k * k)[:n]
    step = size / k
    return x0 + (cells % k + rng.random(n)) * step, y0 + (cells // k + rng.random(n)) * step


def star_polygons(seed: int, n_polygons: int) -> pa.Table:
    """Stars spread like the points: 75% across the world, 25% on a jittered
    grid over the hotspot's +-3 sigma square (smaller there, so the dense
    region has many small polygons)."""
    rng = np.random.default_rng([seed, 4])
    n_hot = round(HOTSPOT_SHARE * n_polygons)
    hot = rng.permutation(n_polygons) < n_hot
    cx = rng.uniform(-170.0, 170.0, n_polygons)
    cy = rng.uniform(-80.0, 80.0, n_polygons)
    # a large world star over the hotspot would hold thousands of its points
    # and swing the count from seed to seed: redraw those centres
    near = (np.abs(cx - HOT_LON) < 7 * HOT_SIGMA) & (np.abs(cy - HOT_LAT) < 7 * HOT_SIGMA)
    while near.any():
        cx[near] = rng.uniform(-170.0, 170.0, near.sum())
        cy[near] = rng.uniform(-80.0, 80.0, near.sum())
        near = (np.abs(cx - HOT_LON) < 7 * HOT_SIGMA) & (np.abs(cy - HOT_LAT) < 7 * HOT_SIGMA)
    cx[hot], cy[hot] = _jittered_grid(rng, n_hot, HOT_LON - 3 * HOT_SIGMA, HOT_LAT - 3 * HOT_SIGMA, 6 * HOT_SIGMA)
    # world sizes are evenly spaced and dealt out by the seed, so their total
    # area is the same for every seed; hotspot stars share one outer radius,
    # as a big one dealt to the centre would swing the count
    r_out = np.full(n_polygons, 0.1)
    r_out[~hot] = rng.permutation(np.linspace(0.5, 1.5, n_polygons - n_hot))
    r_in = r_out * rng.permutation(np.linspace(0.4, 0.7, n_polygons))
    phase = rng.uniform(0.0, 2.0 * np.pi, n_polygons)
    holed = rng.random(n_polygons) < STAR_HOLE_SHARE
    rows = {k: [] for k in POLYGON_SCHEMA.names}
    for i in range(n_polygons):
        (xs, ys), holes = star_rings(cx[i], cy[i], r_out[i], r_in[i], phase[i], bool(holed[i]))
        rows["polygon_id"].append(i)
        rows["name"].append(f"star_{i}")
        rows["exterior"].append(_ring(xs, ys))
        rows["interiors"].append([_ring(hx, hy) for hx, hy in holes])
        rows["xmin"].append(float(xs.min()))
        rows["ymin"].append(float(ys.min()))
        rows["xmax"].append(float(xs.max()))
        rows["ymax"].append(float(ys.max()))
    return pa.table(rows, schema=POLYGON_SCHEMA)


# ---------------------------------------------------------------------------
# workload → tables; cached on disk per (seed, sizes)
# ---------------------------------------------------------------------------


def tables_for(workload: str, seed: int, sizes: dict) -> dict:
    """Name → (builder, part files) for one workload's input tables."""
    if workload == "pip_flagship":
        return {
            "documents": (lambda: flagship_documents(seed, sizes["docs"]), POINT_PARTS),
            "polygons": (grid_polygons, 1),
        }
    if workload == "pip_many_polygons":
        return {
            "points": (lambda: many_points(seed, sizes["points"]), POINT_PARTS),
            "polygons": (lambda: star_polygons(seed, sizes["polygons"]), 1),
        }
    raise ValueError(f"unknown workload {workload!r}")


def materialize(cache_root: str, workload: str, seed: int, sizes: dict, salt: str = "") -> str:
    """Write the workload's tables under ``cache_root`` once per (seed, sizes,
    salt) and return the directory holding ``<table>.parquet`` dirs."""
    key = "_".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(cache_root, f"{workload}_s{seed}_{key}{salt}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, (build, parts) in tables_for(workload, seed, sizes).items():
        _write(build(), os.path.join(out, f"{name}.parquet"), parts)
    open(done, "w").close()
    return out
