"""Per-layer metrics of the traced run, and the end-to-end metric each one
should move (written down before any optimisation is measured).

Every traced run reports every metric below. A layer the workload does not
load reads 0 there; that is the measured value (no work in that layer), and
the ``moves`` column says on which workload the layer matters.
"""

from __future__ import annotations

import json
import os
import statistics

from workloads import MIX_QUERIES

_PIP = "pip_flagship"
_QM = "query_mix (run by hand)"
_MANY = "pip_many_polygons"

# (name, unit, better, layer, moves: end-to-end metric on workload)
CATALOG: list[tuple[str, str, str, str, str]] = [
    ("session.start_s", "s", "lower", "geo_spark.session.get_spark", "setup_s on every workload equally"),
    ("scan.s", "s", "lower", "parquet scan (census)", f"iter_s_p50, items_per_s, cpu_s_per_iter on {_PIP}; none on {_MANY}"),
    ("extract.s", "s", "lower", "operators.extract (census difference)", f"iter_s_p50, items_per_s, cpu_s_per_iter on {_PIP}; none on {_MANY}"),
    ("extract.points", "count", "higher", "operators.extract", f"items_per_s on {_PIP}"),
    ("index.cover_s", "s", "lower", "index.cells.cover_polygons", f"iter_s_p50 on {_MANY}; negligible on {_PIP}"),
    ("index.cover_cells", "count", "lower", "index.cells.cover_polygons", f"iter_s_p50 on {_MANY}"),
    ("index.full_share", "ratio", "higher", "index.cells.cover_polygons", f"iter_s_p50, cpu_s_per_iter on {_MANY} and {_PIP}"),
    ("pip_join.refine_s", "s", "lower", "operators.pip_join (census difference)", f"iter_s_p50, cpu_s_per_iter on {_PIP}"),
    ("pip_join.call_s", "s", "lower", "operators.pip_join (eager driver work)", f"iter_s_p50 on {_MANY}; query.voronoi_probe_assign.s on {_QM}"),
    ("pip_join.call_jobs", "count", "lower", "operators.pip_join (eager driver work)", f"iter_s_p50 on {_MANY}"),
    ("pip_join.exec_s", "s", "lower", "operators.pip_join (execution)", f"iter_s_p50 on {_PIP} and {_MANY}"),
    ("pip_join.jobs", "count", "lower", "operators.pip_join (execution)", f"iter_s_p50 on {_PIP} and {_MANY}"),
    ("pip_join.tasks", "count", "lower", "operators.pip_join (execution)", f"iter_s_p50 on {_PIP} and {_MANY}"),
    ("pip_join.candidates", "count", "lower", "operators.pip_join (execution)", f"iter_s_p50, cpu_s_per_iter on {_PIP} and {_MANY}"),
    ("pip_join.partial_share", "ratio", "lower", "operators.pip_join (execution)", f"iter_s_p50, cpu_s_per_iter on {_PIP} and {_MANY}"),
    ("pip_join.hit_ratio", "ratio", "higher", "operators.pip_join (execution)", f"iter_s_p50 on {_PIP} and {_MANY}"),
    ("pandas_udf.rows", "count", "lower", "Arrow<->Python boundary", f"cpu_s_per_iter, iter_s_p50 on {_MANY}; less on {_PIP}"),
    ("pandas_udf.mb_sent", "MB", "lower", "Arrow<->Python boundary", f"cpu_s_per_iter, iter_s_p50 on {_MANY}; less on {_PIP}"),
    ("pandas_udf.python_s", "s", "lower", "Arrow<->Python boundary", f"cpu_s_per_iter, iter_s_p50 on {_MANY}; less on {_PIP}"),
    ("kernels.polygon_position.pts_per_s", "1/s", "higher", "kernels.predicates.polygon_position", f"iter_s_p50 on {_MANY}"),
    *[
        (f"query.{q}.{m}", u, "lower", "registered operators", f"iter_s_p50, items_per_s on {_QM}")
        for q in MIX_QUERIES
        for m, u in (("s", "s"), ("jobs", "count"))
    ],
    ("streaming.batches", "count", "lower", "streaming (listener progress)", f"iter_s_p50 on {_QM}"),
    ("streaming.state_rows", "count", "lower", "streaming (listener progress)", f"iter_s_p50 on {_QM}"),
    ("streaming.state_update_ms", "ms", "lower", "streaming (listener progress)", f"iter_s_p50 on {_QM}"),
    ("engine.executor_run_s", "s", "lower", "Spark engine (event log)", "cpu_s_per_iter on every workload"),
    ("engine.executor_cpu_s", "s", "lower", "Spark engine (event log)", "cpu_s_per_iter on every workload"),
    ("engine.gc_s", "s", "lower", "Spark engine (event log)", "cpu_s_per_iter on every workload"),
    ("engine.shuffle_write_mb", "MB", "lower", "Spark engine (event log)", "cpu_s_per_iter on every workload"),
    ("engine.spill_mb", "MB", "lower", "Spark engine (event log)", "cpu_s_per_iter, peak_rss_mb on every workload"),
    ("engine.driver_only_s", "s", "lower", "Spark engine (event log)", f"iter_s_p50 on {_MANY} and {_QM}"),
    ("trace.overhead_s", "s", "lower", "this benchmark's tracing", "none (traced minus untraced iter_s_p50)"),
]


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _window(r: dict) -> tuple[float, float]:
    return r["ops"][0]["start"], r["ops"][-1]["end"]


def layer_table(tracer, ev, listener, iters, plain, probe: dict, session_s: float) -> dict:
    """``{name: (value, unit)}`` for every catalog metric."""
    units = {name: unit for name, unit, *_ in CATALOG}
    v: dict[str, float] = {name: 0.0 for name in units}
    v["session.start_s"] = session_s
    v.update(probe)

    scan, extract, join = (tracer.durations(f"{n}.exec") for n in ("scan", "extract", "join"))
    if scan and extract and join:
        v["scan.s"] = _med(scan)
        v["extract.s"] = _med(extract) - v["scan.s"]
        v["pip_join.refine_s"] = _med(join) - _med(extract)

    calls = [s for s in tracer.spans if s["name"] == "pip_join.call"]
    execs = [s for s in tracer.spans if s["name"] == "pip_join.exec"]
    if calls:
        v["pip_join.call_s"] = _med(s["end"] - s["start"] for s in calls)
        v["pip_join.call_jobs"] = _med(s["jobs"] for s in calls)
    if execs:
        v["pip_join.exec_s"] = _med(s["end"] - s["start"] for s in execs)
        v["pip_join.jobs"] = _med(ev.window(s["start"], s["end"])["jobs"] for s in execs)
        v["pip_join.tasks"] = _med(ev.window(s["start"], s["end"])["tasks"] for s in execs)
    if v["pip_join.candidates"]:
        v["pip_join.hit_ratio"] = _med(r["items"] for r in iters) / v["pip_join.candidates"]

    per_iter = [ev.window(*_window(r)) for r in iters]
    v["pandas_udf.rows"] = _med(w["udf_rows"] for w in per_iter)
    v["pandas_udf.mb_sent"] = _med(w["udf_mb_sent"] for w in per_iter)
    v["pandas_udf.python_s"] = _med(w["udf_python_s"] for w in per_iter)
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "driver_only_s"):
        v[f"engine.{key}"] = _med(w[key] for w in per_iter)

    for q in MIX_QUERIES:
        runs = [o for r in iters for o in r["ops"] if o["op"] == q]
        if runs:
            v[f"query.{q}.s"] = _med(o["end"] - o["start"] for o in runs)
            v[f"query.{q}.jobs"] = _med(ev.window(o["start"], o["end"])["jobs"] for o in runs)

    streams = [listener.window(*_window(r)) for r in iters]
    v["streaming.batches"] = _med(s[0] for s in streams)
    v["streaming.state_rows"] = _med(s[1] for s in streams)
    v["streaming.state_update_ms"] = _med(s[2] for s in streams)

    v["trace.overhead_s"] = _med(r["wall"] for r in iters) - _med(r["wall"] for r in plain)
    return {name: (float(v[name]), units[name]) for name in units}


def write_trace(out_dir: str, workload: str, seed: int, tracer, table: dict, summary: dict) -> str:
    """Write spans, the layer table and the layer→end-to-end map as JSON."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace_{workload}_s{seed}.json")
    doc = {
        "summary": summary,
        "layers": {
            name: {"value": table[name][0], "unit": unit, "better": better, "layer": layer, "moves": moves}
            for name, unit, better, layer, moves in CATALOG
        },
        "spans": tracer.spans,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    return path
