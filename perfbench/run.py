"""geo_spark benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload pip_flagship --seed 1 --seconds 10 --trace 0

One client, one process, ``local[N]`` with N = the cores this process may
use: each iteration starts when the previous one has ended. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes spans + the layer table to ``.perfbench/traces/``).
Progress and the human-readable summary go to stderr.

Run it from the root of a geo_spark checkout; without the engine's sources
beside it, it exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import layers  # noqa: E402
import metrics  # noqa: E402
from tracing import EventLog, Tracer, event_log_conf, streaming_listener  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """Short digest of the code that defines inputs and reference answers, so
    cached ones are rebuilt when it changes (the query oracles live in
    __spark_entry__.py)."""
    h = hashlib.sha256()
    for path in (os.path.join(HERE, "gen.py"), os.path.join(HERE, "reference.py"), os.path.join(ROOT, "__spark_entry__.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return "_" + h.hexdigest()[:10]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="2g", help="SPARK_DRIVER_MEMORY for the session")
    ap.add_argument("--master", default="local[*]", help="local[*] means local[<usable cores>]")
    return ap.parse_args(argv)


def prepare_env(driver_memory: str, tmp: str) -> None:
    """Point every scratch location of the session into the checkout and make
    the engine importable by the Python workers."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every descendant to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(metrics.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


class Loop:
    """Runs iterations and keeps per-iteration wall times, counts and failures."""

    def __init__(self, wl, expected: dict):
        self.wl = wl
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.next_iteration = 0

    def iteration(self, label: str) -> dict | None:
        """One iteration; returns its figures, or None if any operation failed."""
        it = self.next_iteration
        self.next_iteration += 1
        ok, wall, items, ops = True, 0.0, 0, []
        for op in self.wl.ops(it):
            self.attempted += 1
            t0 = time.time()
            try:
                result = self.wl.run(op, it)
            except Exception:
                self.failed += 1
                ok = False
                log(f"{label} iteration {it} op {op} raised:\n{traceback.format_exc()}")
                continue
            t1 = time.time()
            problem = self.wl.check(op, result, self.expected)
            if problem is not None:
                self.failed += 1
                ok = False
                log(f"{label} iteration {it} op {op} output check failed: {problem}")
                continue
            wall += t1 - t0
            items += self.wl.items(op, result)
            ops.append({"op": op, "start": t0, "end": t1})
        log(f"{label} iteration {it}: " + ", ".join(f"{o['op']} {o['end'] - o['start']:.3f}s" for o in ops))
        return {"iteration": it, "wall": wall, "items": items, "ops": ops} if ok else None

    def measure(self, seconds: float, label: str, min_iterations: int = 1, before=None) -> list[dict]:
        """Closed loop for at least ``seconds`` and ``min_iterations``."""
        done = []
        t_end = time.time() + seconds
        while len(done) < min_iterations or time.time() < t_end:
            if before is not None:
                before(self.next_iteration)
            r = self.iteration(label)
            if r is not None:
                done.append(r)
            elif not done and time.time() >= t_end:
                break
        return done


def end_to_end(iters: list[dict], setup_s: float, cpu_s: float, peak_mb: float) -> dict:
    walls = [r["wall"] for r in iters]
    p50 = metrics.median(walls)
    items = metrics.median([r["items"] for r in iters])
    return {
        "setup_s": (setup_s, "s"),
        "iter_s_p50": (p50, "s"),
        "items_per_s": (items / p50, "1/s"),
        "cpu_s_per_iter": (cpu_s / len(iters), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def main(argv=None) -> int:
    t_start = process_start_time()
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "geo_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"no geo_spark checkout at {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    n_cores = len(os.sched_getaffinity(0))
    master = args.master.replace("[*]", f"[{n_cores}]")
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))

    # inputs + reference answers: the benchmark's own work, excluded from setup_s
    t_gen = time.time()
    wl_cls = WORKLOADS[args.workload]
    cache = os.path.join(WORK, "data")
    salt = source_digest()
    data_dir = wl_cls(args.seed).inputs(cache, salt)
    key = "_".join(f"{k}{v}" for k, v in sorted(wl_cls.sizes.items()))
    expected_path = os.path.join(cache, f"expected_{args.workload}_s{args.seed}_{key}{salt}.json")
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            expected = json.load(f)
    else:
        expected = wl_cls(args.seed).expected(data_dir)
        os.makedirs(cache, exist_ok=True)
        with open(expected_path, "w") as f:
            json.dump(expected, f)
    gen_s = time.time() - t_gen
    prepare_env(args.driver_memory, tmp)

    tracer = Tracer() if args.trace else None
    log_dir = os.path.join(WORK, "eventlog")
    spark = None
    try:
        with metrics.RssSampler(os.getpid()) as rss:
            from geo_spark.session import get_spark

            t0 = time.time()
            extra = {"spark.ui.showConsoleProgress": "false"}
            if args.trace:
                os.makedirs(log_dir, exist_ok=True)
                extra.update(event_log_conf(log_dir))
            spark = get_spark(app_name=f"perfbench-{args.workload}", master=master, extra_conf=extra)
            session_s = time.time() - t0
            listener = streaming_listener(spark) if args.trace else None
            wl = wl_cls(args.seed, spark, data_dir)
            wl.open()
            loop = Loop(wl, expected)
            for _ in range(wl.warmup_iterations):
                if loop.iteration("warmup") is None:
                    log("warmup failed (counted as failed operations)")
            setup_s = time.time() - t_start - gen_s

            cpu0 = metrics.tree_cpu_s(os.getpid())
            steal0 = metrics.host_cpu_ticks()
            if args.trace:
                # untraced half first: its p50 is the base of the overhead figure
                plain = loop.measure(args.seconds / 2, "untraced")
                wl.tracer = tracer
                census = getattr(wl, "census", None)
                iters = loop.measure(args.seconds / 2, "traced", before=census)
                wl.tracer = None
                probe = wl.probe() if hasattr(wl, "probe") else {}
                time.sleep(1.0)  # let the last streaming progress events arrive
            else:
                # two iterations at least, so no reported median is one sample
                iters = loop.measure(args.seconds, "measure", min_iterations=2)
            cpu_s = metrics.tree_cpu_s(os.getpid()) - cpu0
            steal1 = metrics.host_cpu_ticks()
            app_id = spark.sparkContext.applicationId
            stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    correct = loop.failed == 0
    if not iters:
        log("no iteration succeeded; no metrics to report")
        return 1
    e2e = end_to_end(iters, setup_s, cpu_s, rss.peak_mb)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "master": master,
        "driver_memory": args.driver_memory,
        "iterations": len(iters),
        "iter_s_tail": metrics.tail([r["wall"] for r in iters]),
        "failed_ratio": loop.failed / max(loop.attempted, 1),
        "items": wl_cls.item_unit,
        "session_s": session_s,
        "input_gen_s": gen_s,
        "host_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        **{k: v[0] for k, v in e2e.items()},
    }
    log("summary " + json.dumps(summary))
    if args.trace:
        ev = EventLog(os.path.join(log_dir, app_id))
        table = layers.layer_table(tracer, ev, listener, iters, plain, probe, session_s)
        out = layers.write_trace(
            os.path.join(WORK, "traces"), args.workload, args.seed, tracer, table, summary
        )
        log(f"trace written to {out}")
        reported = table
    else:
        reported = e2e
    result_metrics = {metrics.check_name(k): {"value": v, "unit": u} for k, (v, u) in reported.items()}
    print(json.dumps({"correct": correct, "attempted": loop.attempted, "failed": loop.failed, "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
