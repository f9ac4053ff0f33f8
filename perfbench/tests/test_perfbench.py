"""JVM-free tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from tracing import _union  # noqa: E402

SMALL = {
    "pip_flagship": {"docs": 500},
    "pip_many_polygons": {"points": 2000, "polygons": 20},
}


def _bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.materialize(str(tmp_path / "a"), workload, 7, SMALL[workload])
    b = gen.materialize(str(tmp_path / "b"), workload, 7, SMALL[workload])
    c = gen.materialize(str(tmp_path / "c"), workload, 8, SMALL[workload])
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_metric_names_match_pattern():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.check_name(name) == name
    for bad in ("", "a b", "x/y", "_lead", "é", "a" * 65):
        with pytest.raises(ValueError):
            metrics.check_name(bad)


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (name, unit, better) for name, unit, better, *_ in layers.CATALOG
    ]
    iters = [{"wall": 2.0, "items": 10}, {"wall": 3.0, "items": 10}, {"wall": 4.0, "items": 10}]
    e2e = run.end_to_end(iters, setup_s=5.0, cpu_s=6.0, peak_mb=100.0)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e["iter_s_p50"][0] == 3.0 and e2e["items_per_s"][0] == pytest.approx(10 / 3)
    assert e2e["cpu_s_per_iter"][0] == 2.0


def test_tail_rule():
    assert metrics.tail(list(range(10))) is None
    # 11 samples: only the smallest has ten samples beyond it
    assert metrics.tail(list(range(11))) == (0.0, 100.0 / 11, 11)
    # 21 samples: the median is the highest point with ten beyond
    assert metrics.tail(list(range(21))[::-1]) == (10.0, 100.0 * 11 / 21, 21)
    value, pct, n = metrics.tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(1 for x in range(100) if x > value) == 10


def test_union_of_job_spans():
    assert _union([]) == 0.0
    assert _union([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (5.0, 5.0)]) == 3.0


def _square(x0, y0, x1, y1):
    return np.array([x0, x1, x1, x0, x0], float), np.array([y0, y0, y1, y1, y0], float)


def test_even_odd_square_with_hole():
    shell = _square(0, 0, 10, 10)
    hole = _square(4, 4, 6, 6)
    hole = (hole[0][::-1], hole[1][::-1])  # clockwise, as the generators write holes
    px = np.array([1.0, 5.0, 9.5, 4.5, 11.0, -0.5])
    py = np.array([1.0, 5.0, 9.5, 6.5, 5.0, 5.0])
    got = reference.even_odd(px, py, [shell, hole])
    assert got.tolist() == [True, False, True, True, False, False]


def test_even_odd_concave_star():
    (xs, ys), _ = gen.star_rings(0.0, 0.0, 2.0, 0.5, 0.0, with_hole=False)
    # centre and a point on a spike are inside; the notch between spikes
    # (between the inner radius and the chord of two outer tips) is outside
    k = 2.0 * np.pi / gen.STAR_VERTICES
    notch_r = 0.5 * 1.5
    px = np.array([0.0, 1.9, notch_r * np.cos(k), 2.5])
    py = np.array([0.0, 0.0, notch_r * np.sin(k), 0.0])
    assert reference.even_odd(px, py, [(xs, ys)]).tolist() == [True, True, False, False]


def test_polygon_counts_star_hole_and_outside_bbox():
    shell, holes = gen.star_rings(10.0, 20.0, 2.0, 1.0, 0.0, with_hole=True)
    ring = lambda xy: [{"x": float(x), "y": float(y)} for x, y in zip(*xy)]  # noqa: E731
    polygons = pa.table(
        {
            "polygon_id": [3],
            "name": ["s"],
            "exterior": [ring(shell)],
            "interiors": [[ring(h) for h in holes]],
            "xmin": [float(shell[0].min())],
            "ymin": [float(shell[1].min())],
            "xmax": [float(shell[0].max())],
            "ymax": [float(shell[1].max())],
        },
        schema=gen.POLYGON_SCHEMA,
    )
    # inside the shell ring, inside the hole, outside the bbox entirely
    points = pa.table({"point_id": [0, 1, 2], "lon": [10.8, 10.0, 50.0], "lat": [20.0, 20.0, 20.0]})
    assert reference.polygon_counts(points, polygons) == {3: 1}


def test_grid_closed_form_agrees_with_even_odd():
    """The flagship's closed-form counts and the generic even-odd reference
    are independent; on the grid they must agree."""
    n = 3000
    _, lat_md, lon_md = gen.flagship_points(5, n)
    points = pa.table(
        {
            "point_id": np.arange(len(lon_md)),
            "lon": lon_md / 1_000_000.0,
            "lat": lat_md / 1_000_000.0,
        }
    )
    assert reference.polygon_counts(points, gen.grid_polygons()) == reference.grid_counts(5, n)


def test_mix_queries_are_registered():
    sys.path.insert(0, os.path.dirname(BENCH))
    import __spark_entry__

    from workloads import MIX_QUERIES

    assert set(MIX_QUERIES) <= set(__spark_entry__.queries())
    assert set(MIX_QUERIES) <= set(__spark_entry__.oracle_sql())


def test_query_mix_seed_only_shuffles_the_order():
    from workloads import MIX_QUERIES, QueryMix

    a, b = QueryMix(1), QueryMix(2)
    tables = a.inputs("unused", "")
    assert b.inputs("unused", "") == tables
    for name in ("documents", "events", "lineitem"):
        # a directory, so the streaming sources read it in place
        assert os.path.isdir(os.path.join(tables, f"{name}.parquet"))
    assert sorted(a.ops(0)) == sorted(MIX_QUERIES)
    assert [a.ops(i) for i in range(4)] != [b.ops(i) for i in range(4)]
