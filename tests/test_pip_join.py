"""End-to-end PIP join: synth documents → extract → cell join → refine.

Correctness gates:
- the join result equals a brute-force numpy sweep (every point × every
  polygon with the exact kernel);
- the text byte-identity invariant survives the pipeline;
- hole semantics: points in a polygon's hole are excluded.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.operators.extract import extract_points
from geo_spark.operators.pip_join import pip_join_points_polygons
from geo_spark.sources.documents import (
    polygons_to_numpy,
    synth_admin_polygons,
    synth_documents,
)

N_DOCS = 3000


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def polys(spark):
    return synth_admin_polygons(spark, grid_deg=10.0).cache()


def test_extraction_counts_and_schema(docs):
    pts = extract_points(docs)
    rows = pts.count()
    # ~1/7 docs have no marker, ~(6/7)*(1/11) have two
    n_none = sum(1 for i in range(N_DOCS) if i % 7 == 3)
    n_two = sum(1 for i in range(N_DOCS) if i % 7 != 3 and i % 11 == 5)
    assert rows == (N_DOCS - n_none) + n_two
    assert set(pts.columns) == {"url", "point_idx", "lon", "lat"}
    bounds = pts.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    assert bounds[0] >= -180.0 and bounds[1] < 180.0
    assert bounds[2] >= -90.0 and bounds[3] < 90.0


def test_text_byte_identity(docs, spark):
    """The extraction pipeline must not rewrite text (input_hint invariant)."""
    before = docs.select("url", F.md5(F.col("text")).alias("h"))
    after_pipeline = extract_points(docs, keep_text=True).select(
        "url", F.md5(F.col("text")).alias("h2")
    ).dropDuplicates(["url"])
    joined = before.join(after_pipeline, "url", "inner")
    assert joined.filter(F.col("h") != F.col("h2")).count() == 0


def test_pip_join_matches_bruteforce(spark, docs, polys):
    pts = extract_points(docs).cache()
    result = (
        pip_join_points_polygons(pts, polys, predicate="contains")
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {r["polygon_id"]: r["n"] for r in result}

    # brute force with the numpy kernel directly
    from geo_spark.kernels.predicates import polygon_contains_point

    pts_local = pts.select("lon", "lat").toPandas()
    lon = pts_local["lon"].to_numpy()
    lat = pts_local["lat"].to_numpy()
    geoms = polygons_to_numpy(polys.collect())
    expected = {}
    for pid, (ext, holes, bbox) in geoms.items():
        inb = (lon >= bbox[0]) & (lon <= bbox[2]) & (lat >= bbox[1]) & (lat <= bbox[3])
        if not inb.any():
            continue
        c = polygon_contains_point(lon[inb], lat[inb], ext, holes)
        n = int(c.sum())
        if n:
            expected[pid] = n
    assert got == expected
    # sanity: the hotspot polygon (10-20E, 50-60N band cell) is the hottest
    assert sum(got.values()) > 0


def test_pip_join_hole_semantics(spark):
    # one polygon with a hole; points inside hole must be excluded
    from geo_spark.sources.documents import synth_admin_polygons

    polys = synth_admin_polygons(spark, grid_deg=10.0)
    # polygon_id 0 covers [-180,-170]x[-90,-80] and has a hole at 40% inset
    pts = spark.createDataFrame(
        [
            ("in_ring", -179.0, -89.0),     # inside polygon, outside hole
            ("in_hole", -175.0, -85.0),     # center → inside the hole
            ("outside", -100.0, 0.0),
        ],
        schema="url string, lon double, lat double",
    )
    got = {
        r["url"]: r["polygon_id"]
        for r in pip_join_points_polygons(pts, polys.filter("polygon_id = 0")).collect()
    }
    assert got == {"in_ring": 0}


def test_pip_join_intersects_includes_boundary(spark):
    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False)
    pts = spark.createDataFrame(
        [("corner", -170.0, -80.0), ("edge", -175.0, -80.0), ("inside", -175.0, -85.0)],
        schema="url string, lon double, lat double",
    )
    one = polys.filter("polygon_id = 0")
    contains = {r["url"] for r in pip_join_points_polygons(pts, one, "contains").collect()}
    covers = {r["url"] for r in pip_join_points_polygons(pts, one, "covers").collect()}
    assert contains == {"inside"}
    assert covers == {"corner", "edge", "inside"}


def test_position_boundary_and_holes(spark):
    polys = synth_admin_polygons(spark, grid_deg=10.0)
    pts = spark.createDataFrame(
        [
            ("in_ring", -179.0, -89.0),
            ("in_hole", -175.0, -85.0),
            ("on_hole_edge", -176.0, -85.0),
            ("on_outer_edge", -180.0, -85.0),
            ("outside", -100.0, 0.0),
        ],
        schema="url string, lon double, lat double",
    )
    one = polys.filter("polygon_id = 0")
    got = {
        r["url"]: r["position"]
        for r in pip_join_points_polygons(pts, one, predicate="position").collect()
    }
    assert got["in_ring"] == 1
    assert got["in_hole"] == -1
    assert got["on_hole_edge"] == 0
    assert got["on_outer_edge"] == 0


def _random_polygons():
    """60 random star-convex polygons, the larger ones with one hole."""
    rng = np.random.RandomState(7)
    polys = []
    for _ in range(60):
        k = rng.randint(3, 10)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.4, 4.0, k)
        cx, cy = rng.uniform(-160, 160), rng.uniform(-75, 75)
        ext = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        ext = np.vstack([ext, ext[:1]])
        holes = []
        if k >= 6:
            h = ext[:-1] * 0.2 + np.asarray([[cx, cy]]) * 0.8
            holes = [np.vstack([h[::-1], h[-1:][::-1]])[: len(h) + 1]]
            holes = [np.vstack([holes[0], holes[0][:1]])]
        polys.append((ext, holes))
    return polys


def test_cover_polygons_batch_matches_per_polygon():
    # both cover routes run the batched vectorized cover_polygons; it must
    # classify exactly like the per-polygon kernel
    from geo_spark.index.cells import cover_polygon, cover_polygons

    polys = _random_polygons()
    for res in (5, 8):
        cells, pidx, full = cover_polygons(polys, res)
        for i, (e, hs) in enumerate(polys):
            cc, ff = cover_polygon(e, hs, res=res)
            m = pidx == i
            o1, o2 = np.argsort(cells[m]), np.argsort(cc)
            assert np.array_equal(cells[m][o1], cc[o2]), f"cells differ poly {i} res {res}"
            assert np.array_equal(full[m][o1], ff[o2]), f"full flags differ poly {i} res {res}"


def test_distributed_cover_route_matches_driver_route(spark, polys):
    # the mapInPandas cover route runs only above the driver-route polygon
    # threshold, which the test data never reaches: call it directly
    from geo_spark.operators.pip_join import _cover_frame, _distributed_cover_rows

    def ring(a):
        return [(float(x), float(y)) for x, y in a]

    cols = ("polygon_id", "exterior", "interiors", "xmin", "ymin", "xmax", "ymax")
    extra = [
        (10_000 + i, ring(ext), [ring(h) for h in holes],
         float(ext[:, 0].min()), float(ext[:, 1].min()),
         float(ext[:, 0].max()), float(ext[:, 1].max()))
        for i, (ext, holes) in enumerate(_random_polygons())
    ]
    df = polys.select(*cols).unionByName(
        spark.createDataFrame(extra, polys.select(*cols).schema)
    ).repartition(3)
    rows = df.collect()
    assert len(rows) == 648 + 60
    for res in (5, 8):
        driver = _cover_frame(rows, res)
        want = sorted(zip(*(driver[c].tolist() for c in driver.columns)))
        got = sorted(_distributed_cover_rows(df, res))
        assert len(got) > len(rows)
        assert got == want
    assert driver["full"].any() and not driver["full"].all()
