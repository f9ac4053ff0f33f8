"""The benchmark workloads.

An *iteration* is one closed-loop pass: one pipeline run on the PIP
workloads, one pass over every query on ``query_mix``. Each iteration is a
list of *operations* (one pipeline, or one query); an operation fails when it
raises or when its output check fails. Output checks run outside the timed
region.

Traced runs label each operation's Spark jobs ``workload:layer:phase`` (job
group ``...#iteration``) and record a span around each call into a layer's
public function.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import reference

# query_mix (run by hand): kNN, clustering, Voronoi + pip_join, one streaming
# join, and a plain-SQL control; a pass over these takes ~11 s. agg_lineitem
# runs no geo_spark code, so its prediction is always "no change".
MIX_QUERIES = (
    "knn_haversine_k3",  # operators.knn_join
    "dbscan_hotspot",  # operators.cluster
    "voronoi_probe_assign",  # operators.geometry2 + operators.pip_join
    "streaming_interval_enrich",  # streaming.joins
    "agg_lineitem",  # control
)
MIX_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

_POLY_COLS = ("polygon_id", "exterior", "interiors", "xmin", "ymin", "xmax", "ymax")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    sizes: dict = {}
    item_unit = ""
    # iterations run before measuring: JIT tiers and Python workers keep
    # warming for a few pipeline runs after the first
    warmup_iterations = 1

    def __init__(self, seed: int, spark=None, data_dir: str = ""):
        self.seed = seed
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = None  # a tracing.Tracer while the traced half runs

    # -- set-up --------------------------------------------------------------
    def inputs(self, cache_root: str, salt: str) -> str:
        """Directory holding the input tables, written once per (seed, sizes)."""
        return gen.materialize(cache_root, self.name, self.seed, self.sizes, salt)

    def expected(self, data_dir: str) -> dict:
        """Reference answers, computed without the engine (JSON-safe)."""
        raise NotImplementedError

    def open(self) -> None:
        """Read the generated inputs (part of set-up)."""

    # -- the loop ------------------------------------------------------------
    def ops(self, iteration: int) -> list[str]:
        raise NotImplementedError

    def run(self, op: str, iteration: int):
        raise NotImplementedError

    def check(self, op: str, result, expected: dict) -> str | None:
        raise NotImplementedError

    def items(self, op: str, result) -> int:
        return 1

    @contextlib.contextmanager
    def phase(self, layer: str, phase: str, iteration: int):
        """Span + job labels for one call into a layer; a no-op untraced."""
        if self.tracer is None:
            yield None
            return
        sc = self.spark.sparkContext
        label = f"{self.name}:{layer}:{phase}"
        sc.setJobGroup(f"{label}#{iteration}", label)
        try:
            with self.tracer.span(f"{layer}.{phase}", iteration) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# PIP workloads
# ---------------------------------------------------------------------------


class _Pip(Workload):
    item_unit = "joined points"

    def _pip(self, points, iteration: int) -> dict:
        from pyspark.sql import functions as F

        from geo_spark.operators.pip_join import pip_join_points_polygons

        with self.phase("pip_join", "call", iteration) as sp:
            joined = pip_join_points_polygons(points, self.polygons, predicate="contains")
        if sp is not None:
            sp["jobs"] = len(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(
                    f"{self.name}:pip_join:call#{iteration}"
                )
            )
        with self.phase("pip_join", "exec", iteration):
            rows = joined.groupBy("polygon_id").agg(F.count("*").alias("n")).collect()
        return {int(r["polygon_id"]): int(r["n"]) for r in rows}

    def ops(self, iteration: int) -> list[str]:
        return ["pipeline"]

    def check(self, op: str, result, expected: dict) -> str | None:
        got = {str(k): v for k, v in result.items()}
        if got == expected:
            return None
        bad = sorted(set(got) ^ set(expected) | {k for k in got if got.get(k) != expected.get(k)})
        return f"{len(bad)} polygon counts differ, e.g. polygon {bad[0]}: {got.get(bad[0])} vs {expected.get(bad[0])}"

    def items(self, op: str, result) -> int:
        return sum(result.values())

    # -- traced-run probes ------------------------------------------------------
    def point_coords(self) -> tuple[np.ndarray, np.ndarray]:
        raise NotImplementedError

    def probe(self) -> dict:
        """Layer figures measured once per traced run, outside the loop: the
        cover build and the kernel called directly, and candidate counts."""
        from geo_spark.index.cells import cell_encode, cover_polygons
        from geo_spark.kernels.predicates import polygon_position
        from geo_spark.operators.pip_join import choose_res, pip_join_points_polygons

        rows = self.polygons.select(*_POLY_COLS).collect()
        polys = [
            (
                np.asarray([(c["x"], c["y"]) for c in r["exterior"]], dtype=np.float64),
                [np.asarray([(c["x"], c["y"]) for c in h], dtype=np.float64) for h in r["interiors"] or []],
            )
            for r in rows
        ]
        res = choose_res(rows)
        cover_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            cells, pidx, full = cover_polygons(polys, res)
            cover_s.append(time.perf_counter() - t0)

        # candidates = cell matches that pass the bbox prefilter, counted from
        # outside with the engine's own cell encoding
        lon, lat = self.point_coords()
        pcell = cell_encode(lon, lat, res)
        order = np.argsort(cells, kind="stable")
        cells_s, pidx_s, full_s = cells[order], pidx[order], full[order]
        lo = np.searchsorted(cells_s, pcell, side="left")
        hi = np.searchsorted(cells_s, pcell, side="right")
        cnt = hi - lo
        pt = np.repeat(np.arange(len(lon)), cnt)
        pos = np.repeat(lo - np.concatenate([[0], np.cumsum(cnt)[:-1]]), cnt) + np.arange(cnt.sum())
        poly = pidx_s[pos]
        bbox = np.asarray([[r["xmin"], r["ymin"], r["xmax"], r["ymax"]] for r in rows])
        keep = (
            (lon[pt] >= bbox[poly, 0]) & (lon[pt] <= bbox[poly, 2])
            & (lat[pt] >= bbox[poly, 1]) & (lat[pt] <= bbox[poly, 3])
        )
        pt, poly, is_full = pt[keep], poly[keep], full_s[pos][keep]

        # kernel on a seeded sample of the partial-cell candidates
        rng = np.random.default_rng([self.seed, 99])
        partial = np.flatnonzero(~is_full)
        sample = np.sort(rng.choice(partial, min(len(partial), 50_000), replace=False))
        t0 = time.perf_counter()
        for p in np.unique(poly[sample]):
            sel = sample[poly[sample] == p]
            polygon_position(lon[pt[sel]], lat[pt[sel]], polys[p][0], polys[p][1])
        kernel_s = time.perf_counter() - t0

        candidates = pip_join_points_polygons(
            self.points_df(), self.polygons, predicate="position"
        ).count()
        return {
            "index.cover_s": float(np.median(cover_s)),
            "index.cover_cells": int(len(cells)),
            "index.full_share": float(full.mean()) if len(full) else 0.0,
            "pip_join.candidates": int(candidates),
            "pip_join.partial_share": float((~is_full).mean()) if len(is_full) else 0.0,
            "kernels.polygon_position.pts_per_s": len(sample) / kernel_s if kernel_s > 0 else 0.0,
        }


class PipFlagship(_Pip):
    """CC-style pages → extract_points → PIP join against the 10° grid."""

    name = "pip_flagship"
    sizes = {"docs": 300_000}
    # at local[2] an iteration settles ~25% below the first ones only from
    # the ninth pipeline run on (2.9 s -> 2.2 s)
    warmup_iterations = 8

    def expected(self, data_dir: str) -> dict:
        return {str(k): v for k, v in reference.grid_counts(self.seed, self.sizes["docs"]).items()}

    def open(self) -> None:
        self.docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet")
        self.polygons = self.spark.read.parquet(f"{self.data_dir}/polygons.parquet")

    def points_df(self):
        from geo_spark.operators.extract import extract_points

        return extract_points(self.docs)

    def run(self, op: str, iteration: int):
        return self._pip(self.points_df(), iteration)

    def census(self, iteration: int) -> None:
        """Noop-sink census before each traced iteration: scan alone, + extract,
        + join and refine; the iteration itself adds the aggregate."""
        from geo_spark.operators.pip_join import pip_join_points_polygons

        with self.phase("scan", "exec", iteration):
            noop(self.docs.select("url", "text"))
        with self.phase("extract", "exec", iteration):
            noop(self.points_df())
        with self.phase("join", "exec", iteration):
            noop(pip_join_points_polygons(self.points_df(), self.polygons, predicate="contains"))

    def probe(self) -> dict:
        return {**super().probe(), "extract.points": self.points_df().count()}

    def point_coords(self):
        _, lat_md, lon_md = gen.flagship_points(self.seed, self.sizes["docs"])
        return lon_md / 1_000_000.0, lat_md / 1_000_000.0


class PipManyPolygons(_Pip):
    """Lon/lat points → PIP join against thousands of concave stars."""

    name = "pip_many_polygons"
    sizes = {"points": 150_000, "polygons": 1_000}
    # settles from the seventh pipeline run on (2.4 s -> 2.1 s at local[2])
    warmup_iterations = 6

    def expected(self, data_dir: str) -> dict:
        counts = reference.polygon_counts(
            pq.read_table(f"{data_dir}/points.parquet"),
            pq.read_table(f"{data_dir}/polygons.parquet"),
        )
        return {str(k): v for k, v in counts.items()}

    def open(self) -> None:
        self.points = self.spark.read.parquet(f"{self.data_dir}/points.parquet")
        self.polygons = self.spark.read.parquet(f"{self.data_dir}/polygons.parquet")

    def points_df(self):
        return self.points

    def run(self, op: str, iteration: int):
        return self._pip(self.points, iteration)

    def point_coords(self):
        t = pq.read_table(f"{self.data_dir}/points.parquet", columns=["lon", "lat"])
        return t.column("lon").to_numpy(), t.column("lat").to_numpy()


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """Registered queries, each checked against its DuckDB twin."""

    name = "query_mix"
    # the repository's sf0.01 test tables (TESTDATA.md), stored as one-file
    # parquet directories: the streaming sources copy a single-file table to
    # a temp dir outside the checkout, and read a directory in place
    sizes = {"sf": 0.01}
    item_unit = "queries"
    warmup_iterations = 4

    def inputs(self, cache_root: str, salt: str) -> str:
        return MIX_TABLES_DIR

    def expected(self, data_dir: str) -> dict:
        import __spark_entry__
        from tools.check_oracle import canon, value_hash

        return reference.oracle_hashes(data_dir, MIX_QUERIES, __spark_entry__.oracle_sql(), canon, value_hash)

    def open(self) -> None:
        import __spark_entry__

        self.queries = {n: __spark_entry__.queries()[n] for n in MIX_QUERIES}

    def ops(self, iteration: int) -> list[str]:
        order = list(MIX_QUERIES)
        random.Random(self.seed * 1_000_003 + iteration).shuffle(order)
        return order

    def run(self, op: str, iteration: int):
        with self.phase(f"query.{op}", "exec", iteration):
            return self.queries[op](self.spark, self.data_dir).toPandas()

    def check(self, op: str, result, expected: dict) -> str | None:
        from tools.check_oracle import canon, value_hash

        got = value_hash(canon(result))
        return None if got == expected[op] else f"value hash {got[:12]} != oracle {expected[op][:12]}"


WORKLOADS = {w.name: w for w in (PipFlagship, PipManyPolygons, QueryMix)}
