#!/usr/bin/env python3
"""Crawl-engine benchmark: one command, end-to-end or traced.

    python3 perfbench/run.py --workload crawl_sched --seed 7 --seconds 20 --trace 0

Run from the repository root. Each run starts one local Spark session, sets
it up, then repeats the workload's cycle (feed drain → crawl → query mix,
see cycle.py) until ``--seconds`` is spent, at least once. Outputs are
checked against the reference simulator and the DuckDB oracles; the last
stdout line is the result JSON. ``--trace 1`` prints the per-layer metrics
instead of the end-to-end ones. Exits 1 on an output mismatch and 2 when the
repository is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s", "urls_per_s": "URL/s", "epoch_p50_s": "s", "first_commit_s": "s",
    "ingest_batch_p50_s": "s", "ingest_batch_tail_s": "s", "ingest_urls_per_s": "URL/s",
    "query_mix_s": "s", "store_bytes_per_url": "B/URL", "peak_rss_mb": "MB",
}


def shapes():
    from inputs import Shape

    return {
        # tiny payloads, 20% duplicate seed variants, outlinks on:
        # scheduling/dedup/per-epoch fixed cost
        "crawl_sched": Shape(n_images=3000, n_hosts=300, tiny=True, wave_size=500,
                             seeds=1500, feed_urls=1000),
        # mixed-size payloads on wider waves: the validation UDF and the
        # bytes-bearing fetched write on top of the per-epoch fixed cost
        "crawl_payload": Shape(n_images=4000, n_hosts=2000, tiny=False, wave_size=1500,
                               seeds=2500, feed_urls=1000),
    }


def environment(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master",
                             "spark.io.", "spark.eventLog.enabled"))}
    return {
        "nproc": os.cpu_count(), "cores": cores, "mem_total_mb": mem_kb // 1024,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0], "spark_conf": conf,
    }


def prepare_env(run_dir: str, trace: bool) -> None:
    """Everything Spark and its Python workers need before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts: temp files into the run dir, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ.pop("MONO_SPARK_MASTER", None)
    os.environ.pop("MONO_SPARK_CONF", None)
    os.environ.pop("MONO_EPOCH_TIMING", None)
    if trace:
        os.environ["SPARK_EVENTLOG_DIR"] = os.path.join(run_dir, "eventlog")
    else:
        os.environ.pop("SPARK_EVENTLOG_DIR", None)


def start_spark(run_dir: str, cores: int):
    from monocator_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # one plain JSON-lines event log (traced runs), readable without zstd
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def construct_once(spark, shape, world: str, store_dir: str) -> float:
    """Seconds to construct a CrawlEngine and a StreamingEnqueue on a fresh store."""
    from cycle import crawl_config
    from monocator_spark.plans.epoch import CrawlEngine
    from monocator_spark.sources.store import SnapshotStore
    from monocator_spark.streaming.enqueue_stream import StreamingEnqueue

    t0 = time.perf_counter()
    cfg = crawl_config(shape)
    store = SnapshotStore(store_dir)
    engine = CrawlEngine(spark, store, world, cfg)
    StreamingEnqueue(spark, cfg, store, os.path.join(store_dir, "feed"),
                     os.path.join(store_dir, "ckpt"), host_state=engine.host_state)
    return time.perf_counter() - t0


class RssSampler:
    """Peak summed PSS of this process's descendants (driver JVM, Python
    workers), sampled from /proc. PSS splits pages shared between forked
    workers among them, so a fork does not count its parent's pages twice.
    One sample walks the JVM's page tables (tens of ms of CPU), hence the
    one-second period."""

    def __init__(self, period: float = 1.0):
        import threading

        self.period = period
        self.peak_kb = 0
        self.stopped = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self.stopped = True
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in descendants(me)))
            self._stop.wait(self.period)


def parents() -> dict[int, int]:
    """{pid: parent pid} for every process in /proc."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def descendants(root: int) -> set[int]:
    parent = parents()
    out = set()
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != root and p > 1:
            p = parent.get(p)
        if p == root:
            out.add(pid)
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="flip the expected order checksum (self-test of the checks)")
    ap.add_argument("--toy", action="store_true", help="toy sizes (self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "monocator_spark")):
        print(f"monocator_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    all_shapes = shapes()
    if args.workload not in all_shapes:
        print(f"unknown workload {args.workload}; known: {sorted(all_shapes)}",
              file=sys.stderr)
        return 2
    shape = all_shapes[args.workload]
    if args.toy:
        shape = replace(shape, n_images=400, n_hosts=min(shape.n_hosts, 60), wave_size=100,
                        seeds=200, feed_urls=50)
    else:
        # the first run in a checkout builds every workload's world (input
        # preparation, never timed), so later first runs stay short
        for other in all_shapes.values():
            inputs.ensure_world(WORK, other)
    world = inputs.ensure_world(WORK, shape)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        values, units, correct, attempted, failed, info = run(args, shape, world, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    unmeasured = [k for k, v in values.items() if not math.isfinite(v)]
    if unmeasured:
        print(f"unmeasured metrics: {unmeasured}", file=sys.stderr)
        correct = False
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


def run(args, shape, world: str, run_dir: str):
    """Prepare the seeded inputs, set up, run the cycles, check, measure."""
    import inputs
    from cycle import check_cycle, end_to_end, expected_crawl, run_cycle

    marks = {"start": time.perf_counter()}
    batches = inputs.feed_batches(args.seed, shape)
    feed_dir = os.path.join(run_dir, "feed")
    inputs.write_feed(feed_dir, batches)
    table_dir = os.path.join(run_dir, "tables")
    inputs.write_query_tables(table_dir, args.seed, scale=0.2 if args.toy else 1.0)
    eng_world = inputs.run_world(world, run_dir, batches[0])
    expected = expected_crawl(world, shape, batches)
    if args.corrupt_expected:
        expected["order"] = "0" * len(expected["order"])
    n_reannounced = sum(len(b) for b in batches[1:])
    inputs.prewarm(world)
    marks["inputs"] = time.perf_counter()

    prepare_env(run_dir, bool(args.trace))
    cores = min(4, os.cpu_count() or 1)
    t0 = time.perf_counter()
    spark = start_spark(run_dir, cores)
    session_s = time.perf_counter() - t0
    rss = RssSampler().start()
    try:
        construct = [construct_once(spark, shape, eng_world, os.path.join(run_dir, f"setup-{k}"))
                     for k in range(SETUP_REPEATS)]
        setup_s = session_s + statistics.median(construct)
        info = {"workload": args.workload, "seed": args.seed,
                "env": environment(spark, cores), "session_start_s": session_s,
                "construct_s": construct, "expected": expected}

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
            os.environ["MONO_EPOCH_TIMING"] = "1"
        cycles, checks = [], []
        t_start = time.perf_counter()
        while not cycles or time.perf_counter() - t_start < args.seconds:
            cyc_dir = os.path.join(run_dir, f"cycle-{len(cycles)}")
            cycles.append(run_cycle(spark, shape, eng_world, cyc_dir, feed_dir, table_dir,
                                    n_reannounced))
            marks[f"cycle{len(cycles)}"] = time.perf_counter()
            checks.append(check_cycle(spark, cycles[-1], expected, table_dir))
            marks[f"check{len(cycles)}"] = time.perf_counter()
            if args.trace:
                break  # one traced cycle; the layer probes run on its state
        peak_rss_mb = rss.stop()

        failed = sum((not k["crawl_ok"]) + (not k["stream_ok"]) + len(k["bad_queries"])
                     for k in checks)
        attempted = sum(len(c["batch_s"]) + 1 + len(c["query_s"]) for c in cycles)
        correct = failed == 0 and all(
            c["stats"].scheduled == expected["scheduled"] for c in cycles)
        info.update({
            "cycles": len(cycles), "got": [k["got"] for k in checks],
            "bad_queries": [k["bad_queries"] for k in checks],
            "ingest_batches": [len(c["batch_s"]) for c in cycles],
            "epoch_p50_samples": sum(len(c["epoch_s"]) for c in cycles),
            "ingest_batch_tail_percentile": 90, "failed_ops_ratio": failed / attempted,
        })
        if args.trace:
            from layers import layer_metrics

            tracer.uninstall()
            os.environ.pop("MONO_EPOCH_TIMING", None)
            order = ("traced", "untraced") if args.seed % 2 else ("untraced", "traced")
            info["trace_overhead_order"] = order
            layer = layer_metrics(spark, shape, eng_world, run_dir, cycles[0], checks[0],
                                  tracer, batches, order)
        else:
            values = end_to_end(cycles, checks, setup_s, peak_rss_mb)
            units = END_TO_END_UNITS
    finally:
        if not rss.stopped:
            rss.stop()
        stop_spark(spark)
    marks["stop"] = time.perf_counter()
    info["phase_s"] = {k: round(v - marks["start"], 2) for k, v in marks.items()}
    if args.trace:
        from layers import event_log_metrics

        layer.update(event_log_metrics(run_dir, cycles[0], cores))
        values = {k: v for k, (v, _) in layer.items()}
        units = {k: u for k, (_, u) in layer.items()}
    return values, units, correct, attempted, failed, info


if __name__ == "__main__":
    sys.exit(main())
