"""Point-in-polygon spatial join — the engine's flagship operator.

Architecture (SURVEY.md §3.1 "Spark shape"):

1. **coarse**: polygons are expanded into covering Z-order cells with an
   exact full/partial classification (index.cells.cover_polygons — the
   distributed stand-in for the reference's IntervalTreeMultiPolygon,
   ``indexed/interval_tree_multipolygon.rs:91-202``); points get a cell id
   via pure-SQL bit math (functions.cell_encode_col). The candidate join is
   a plain equi-join on the cell id; with a broadcastable polygon side it is
   a broadcast-hash join — zero shuffle of the (huge) point side.
2. **bbox prefilter**: an authored SQL conjunct (px between xmin..xmax)
   mirroring the reference's bbox fast-reject (``intersects/mod.rs:113-127``)
   — Catalyst evaluates it JVM-side before any Python.
3. **full-cell shortcut**: candidates whose cell is fully interior are
   accepted without running the exact kernel (the distributed analogue of
   the interior short-circuit at ``interval_tree_multipolygon.rs:153-158``).
   On real-world polygon sets most matches take this path.
4. **exact refine**: only partial-cell candidates enter a vectorized pandas
   UDF running the robust winding-number kernel
   (kernels.predicates.polygon_position) against a broadcast polygon dict,
   deserialized once per executor.

Scale notes: the point side is never shuffled (broadcast join + AQE);
polygon-side explosion is bounded by ``max_cells_per_polygon``; hot cells
don't skew this operator because the join key distribution only affects the
broadcast-hash probe, not a shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.functions import bbox_contains_point, cell_encode_col
from geo_spark.index.cells import cover_polygons

_BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")
_POLYGON_COLS = ("polygon_id", "exterior", "interiors", *_BBOX_COLS)
_COVER_SCHEMA = (
    "cell long, polygon_id long, full boolean, "
    "xmin double, ymin double, xmax double, ymax double"
)


def _ring_array(ring) -> np.ndarray:
    """array<struct<x,y>> ring → (n, 2) float64 vertex array."""
    return np.asarray([(c["x"], c["y"]) for c in ring], dtype=np.float64)


def _polygon_arrays(r):
    """One polygon row → (exterior, [holes]) as vertex arrays."""
    holes = r["interiors"]
    return _ring_array(r["exterior"]), [
        _ring_array(h) for h in (holes if holes is not None else [])
    ]


def _cover_frame(rows, res: int) -> pd.DataFrame:
    """Polygon rows → the compact (cell, polygon_id, full, bbox) cover rows.

    ``rows`` are Spark Rows, plain dicts or Arrow record dicts — anything
    subscriptable by column name. The whole batch is one ``cover_polygons``
    call: a per-polygon ``cover_polygon`` loop costs ~0.4 ms/polygon of
    numpy dispatch.
    """
    cells, pidx, full = cover_polygons([_polygon_arrays(r) for r in rows], res)
    ids = np.asarray([r["polygon_id"] for r in rows], dtype=np.int64)
    bbox = np.asarray([[r[k] for k in _BBOX_COLS] for r in rows], dtype=np.float64)
    bbox = bbox.reshape(-1, 4)[pidx]
    return pd.DataFrame(
        {"cell": cells, "polygon_id": ids[pidx], "full": full, **dict(zip(_BBOX_COLS, bbox.T))}
    )


def _distributed_cover_rows(polygons: DataFrame, res: int):
    """Compute polygon cell covers on the executors, collect only the compact
    (cell, polygon_id, full, xmin, ymin, xmax, ymax) rows.

    The cover construction (cell walk + exact full/partial classification)
    is the CPU-heavy prep step; at ~1M admin polygons a driver build
    serializes minutes of work, so it runs as ``mapInPandas`` over however
    many partitions the polygon table has. The collected rows are compact
    (no geometry), sized like the broadcast relation itself.
    """

    def fn(it):
        for pdf in it:
            yield _cover_frame(pdf.to_dict("records"), res)

    sdf = polygons.select(*_POLYGON_COLS).mapInPandas(fn, schema=_COVER_SCHEMA)
    return [tuple(r) for r in sdf.collect()]


def choose_res(bbox_rows, target_cells_per_polygon: int = 16, max_res: int = 14) -> int:
    """Resolution whose cells are ~1/4 the linear size of a median polygon bbox."""
    if not bbox_rows:
        return 6
    widths = []
    for r in bbox_rows[:2048]:
        widths.append(max(r["xmax"] - r["xmin"], (r["ymax"] - r["ymin"]) * 2.0, 1e-9))
    med = float(np.median(widths))
    for res in range(max_res, -1, -1):
        if 360.0 / (1 << res) >= med / 4.0:
            return res
    return 0


def pip_join_points_polygons(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "contains",
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Join point rows to the polygons that contain them.

    ``predicate``: 'contains' (strict interior — Contains semantics,
    ``contains/polygon.rs:17-21``), 'covers' / 'intersects' (boundary
    included, ``covers/mod.rs:42``), or 'position' (keep all candidates with
    the ternary position column).

    The polygon side must fit in a broadcast (admin-boundary scale, ≤ ~1M
    vertices total). Returns the point columns + ``polygon_id``
    (+ ``position`` for predicate='position').
    """
    spark = points.sparkSession
    # the polygon geometry must land on the driver regardless (broadcast
    # refine is this operator's contract). Below the threshold, one fetch
    # feeds both the cover build and the geometry table (a few hundred
    # covers cost less than a Spark job round-trip). Above it, the cover
    # builds distributedly (mapInPandas) and the geometry STREAMS to the
    # driver via toLocalIterator — at the ~1M-polygon contract ceiling this
    # holds one copy of the geometry (the broadcast dict), not two (the
    # collected Row list plus the dict).
    #
    # Small-side fast path: a polygon table synthesized driver-side (e.g.
    # sources.documents.synth_admin_polygons) tags itself with the local row
    # list it was built from; using it directly skips the count + collect
    # jobs entirely — two scheduler round-trips that otherwise dominate the
    # fixed cost of every admin-scale PIP query.
    driver_cover_threshold = 20_000
    poly_rows = getattr(polygons, "_geo_spark_local_rows", None)
    if poly_rows is None:
        # one job replaces the old count() + collect() pair: fetch at most
        # threshold+1 rows — fewer means the driver path with rows in hand,
        # more means the distributed path (the fetched rows are discarded)
        fetched = polygons.select(*_POLYGON_COLS).take(driver_cover_threshold + 1)
        if len(fetched) <= driver_cover_threshold:
            poly_rows = fetched
    if poly_rows is not None:
        if res is None:
            res = choose_res(poly_rows)
        cover = _cover_frame(poly_rows, res)
        cover_rows = list(zip(*(cover[c].tolist() for c in cover.columns)))
    else:
        if res is None:
            res = choose_res(
                polygons.select("xmin", "ymin", "xmax", "ymax").limit(2048).collect()
            )
        cover_rows = _distributed_cover_rows(polygons, res)
        poly_rows = polygons.select(
            "polygon_id", "exterior", "interiors"
        ).toLocalIterator(prefetchPartitions=True)
    cover_df = spark.createDataFrame(cover_rows, schema=_COVER_SCHEMA)

    pts = points.withColumn("_cell", cell_encode_col(lon_col, lat_col, res))
    cand = pts.join(F.broadcast(cover_df), pts["_cell"] == cover_df["cell"], "inner")
    cand = cand.filter(
        bbox_contains_point("xmin", "ymin", "xmax", "ymax", lon_col, lat_col)
    )

    # PySpark keeps each Broadcast in its worker-side registry, so
    # ``bc.value`` deserializes the polygon table once per worker process
    bc = spark.sparkContext.broadcast(
        {int(r["polygon_id"]): _polygon_arrays(r) for r in poly_rows}
    )

    @F.pandas_udf(T.ByteType())
    def position_udf(
        polygon_id: pd.Series, lon: pd.Series, lat: pd.Series, full: pd.Series
    ) -> pd.Series:
        from geo_spark.kernels.predicates import polygon_position

        table = bc.value
        pid = polygon_id.to_numpy()
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        is_full = full.to_numpy(dtype=bool)
        out = np.ones(len(pid), dtype=np.int8)  # full cells are Inside
        todo = ~is_full
        if todo.any():
            pid_t = pid[todo]
            idx_t = np.flatnonzero(todo)
            for p in np.unique(pid_t):
                mask = idx_t[pid_t == p]
                ext, holes = table[int(p)]
                out[mask] = polygon_position(lo[mask], la[mask], ext, holes)
        return pd.Series(out)

    # full-cell shortcut: one pass — the UDF receives the `full` flag and
    # masks out the winding kernel for interior cells (Arrow still ships
    # the row, ~25 bytes, but no Python math runs for it). A filter/union
    # split would re-scan the upstream source twice.
    cand = cand.withColumn(
        "position",
        position_udf(
            F.col("polygon_id"), F.col(lon_col), F.col(lat_col), F.col("full")
        ),
    )

    drop = ["_cell", "cell", "full", "xmin", "ymin", "xmax", "ymax"]
    if predicate == "contains":
        cand = cand.filter(F.col("position") == 1)
    elif predicate in ("covers", "intersects"):
        cand = cand.filter(F.col("position") >= 0)
    elif predicate != "position":
        raise ValueError(f"unknown predicate: {predicate}")

    if predicate != "position":
        drop.append("position")
    return cand.drop(*drop)
