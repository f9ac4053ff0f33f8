"""Distributed polygonize (operators/polygonize_dist.py): parity with the
per-row kernel (kernels/polygonize.py — JTS Polygonizer semantics) on
multi-component linework with dangles, bridges, and holes."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _seg_rows(segments):
    return [
        (float(a[0]), float(a[1]), float(b[0]), float(b[1])) for a, b in segments
    ]


def _canon_poly(ext, holes):
    """Rotation/closure-insensitive canonical form of (exterior, holes)."""

    def canon_ring(r):
        r = np.asarray(r, dtype=np.float64)
        if len(r) > 1 and (r[0] == r[-1]).all():
            r = r[:-1]
        i = int(np.lexsort((r[:, 1], r[:, 0]))[0])
        return tuple(map(tuple, np.roll(r, -i, axis=0)))

    return (canon_ring(ext), frozenset(canon_ring(h) for h in holes))


def _dist_result(spark, segments, **kw):
    from geo_spark.operators.polygonize_dist import polygonize_distributed

    df = spark.createDataFrame(
        _seg_rows(segments), "x1 double, y1 double, x2 double, y2 double"
    ).repartition(8)
    rows = polygonize_distributed(df, **kw).collect()
    out = set()
    for r in rows:
        ext = [(c["x"], c["y"]) for c in r["exterior"]]
        holes = [[(c["x"], c["y"]) for c in h] for h in r["interiors"]]
        out.add(_canon_poly(ext, holes))
    return out


def _kernel_result(segments):
    from geo_spark.kernels.polygonize import polygonize

    return {
        _canon_poly(ext, holes) for ext, holes in polygonize(segments)
    }


def _grid_segments(cols, rows, x0=0.0, y0=0.0):
    segs = []
    for i in range(cols + 1):
        for j in range(rows):
            segs.append(((x0 + i, y0 + j), (x0 + i, y0 + j + 1)))
    for j in range(rows + 1):
        for i in range(cols):
            segs.append(((x0 + i, y0 + j), (x0 + i + 1, y0 + j)))
    return segs


def test_grid_mosaic_parity(spark):
    # driver_face_threshold=0 forces the full distributed pipeline (the
    # default now routes small inputs through the driver-side kernel)
    segs = _grid_segments(4, 3)
    got = _dist_result(spark, segs, driver_face_threshold=0)
    exp = _kernel_result(segs)
    assert len(exp) == 12
    assert got == exp


def test_grid_mosaic_parity_driver_face_path(spark):
    # the small-input whole-pipeline driver path (default thresholds) must
    # emit the same faces as the distributed pipeline / kernel
    segs = _grid_segments(4, 3)
    got = _dist_result(spark, segs)
    exp = _kernel_result(segs)
    assert len(exp) == 12
    assert got == exp


def test_grid_mosaic_parity_distributed_labeling(spark):
    # driver_label_threshold=0 forces the pointer-doubling path (the 100 TB
    # shape); results must match the driver-side labeling exactly
    segs = _grid_segments(3, 3)
    got = _dist_result(
        spark, segs, driver_label_threshold=0, driver_face_threshold=0,
        max_ring_len=64,
    )
    exp = _kernel_result(segs)
    assert len(exp) == 9
    assert got == exp


def test_dangles_bridges_holes_parity_both_paths(spark):
    segs = _dangles_bridges_holes_segs()
    exp = _kernel_result(segs)
    assert len(exp) == 4
    assert any(h for _, h in exp)  # one polygon has a hole
    assert _dist_result(spark, segs) == exp  # driver face path
    assert _dist_result(spark, segs, driver_face_threshold=0) == exp


def _dangles_bridges_holes_segs():
    # two squares joined by a bridge, a dangling chain, and a square with
    # an island (hole + standalone polygon, the JTS double-emission)
    segs = [
        # square A
        ((0, 0), (2, 0)), ((2, 0), (2, 2)), ((2, 2), (0, 2)), ((0, 2), (0, 0)),
        # bridge
        ((2, 1), (4, 1)),
        # square B (attached to bridge end)
        ((4, 0), (6, 0)), ((6, 0), (6, 2)), ((6, 2), (4, 2)), ((4, 2), (4, 0)),
        # dangle chain
        ((6, 2), (7, 3)), ((7, 3), (8, 3)),
        # big square with island
        ((10, 0), (16, 0)), ((16, 0), (16, 6)), ((16, 6), (10, 6)),
        ((10, 6), (10, 0)),
        ((12, 2), (14, 2)), ((14, 2), (14, 4)), ((14, 4), (12, 4)),
        ((12, 4), (12, 2)),
    ]
    # note square A's edge (2,0)-(2,2) is NOT noded at (2,1) where the
    # bridge attaches — node it (polygonize requires noded input)
    segs.remove(((2, 0), (2, 2)))
    segs += [((2, 0), (2, 1)), ((2, 1), (2, 2))]
    segs.remove(((4, 2), (4, 0)))
    segs += [((4, 2), (4, 1)), ((4, 1), (4, 0))]
    return segs


def test_disconnected_components_and_pure_dangles(spark):
    segs = _grid_segments(2, 2) + _grid_segments(2, 1, x0=10.0) + [
        ((20, 0), (21, 0)), ((21, 0), (22, 1)),  # a pure dangle component
    ]
    got = _dist_result(spark, segs)
    exp = _kernel_result(segs)
    assert len(exp) == 4 + 2
    assert got == exp


def test_empty_and_all_dangles(spark):
    from geo_spark.operators.polygonize_dist import polygonize_distributed

    df = spark.createDataFrame(
        _seg_rows([((0, 0), (1, 0)), ((1, 0), (2, 1))]),
        "x1 double, y1 double, x2 double, y2 double",
    )
    assert polygonize_distributed(df).count() == 0


def test_peel_dangles_last_round_clears_chain(spark):
    # a 4-segment open chain loses both end segments per round: two rounds
    # peel it to nothing, which is convergence, not a failure
    from geo_spark.operators.polygonize_dist import _peel_dangles

    seg = spark.createDataFrame(
        [(float(i), 0.0, float(i + 1), 0.0) for i in range(4)],
        "ax double, ay double, bx double, by double",
    )
    assert _peel_dangles(seg, max_rounds=2).count() == 0
    with pytest.raises(RuntimeError, match="did not converge"):
        _peel_dangles(seg, max_rounds=1)
