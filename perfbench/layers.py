"""Per-layer metrics for the traced run.

Three sources, all outside the program:

* spans recorded by ``spans.Tracer`` during the traced cycle (store writes,
  commits, previews, stream calls);
* the engine's ``MONO_EPOCH_TIMING`` phase breakdown in ``RunStats.per_epoch``;
* forced standalone calls: each operator's public function is called on the
  state the cycle's crawl started from and written to a ``noop`` sink, so its
  self-time is real execution rather than lazy plan construction. Each call
  runs under a Spark job description, so the event log attributes its tasks.

``event_log_metrics`` reads the Spark event log after the session stops.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import inputs
import querymix
from spans import (jobs_between, public_store_calls, read_event_log, spark_metrics,
                   store_metrics, task_skew)

PAYLOAD_WRITE_MODES = {"cache": 1.0, "rejoin": 2.0}
EPOCH_PHASES = ("wave_select", "fetch_validate", "compute", "state_flush",
                "flush_commit", "state_wait")


def _timed_noop(spark, label: str, *dfs) -> float:
    spark.sparkContext.setJobDescription(f"perfbench:{label}")
    t0 = time.perf_counter()
    for df in dfs:
        df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return dt


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spark, shape, world, run_dir, cyc, check, tracer, batches,
                  trace_order) -> dict[str, tuple[float, str]]:
    """→ {name: (value, unit)}. ``trace_order`` orders the two overhead crawls."""
    from pyspark.sql import functions as F

    from cycle import crawl_config
    from monocator_spark.operators import dedup, enqueue, fetch, outlinks, politeness
    from monocator_spark.plans.epoch import FRONTIER_COLS_Q, CrawlEngine
    from monocator_spark.sim.simulator import OK
    from monocator_spark.sources.store import SnapshotStore

    cfg = crawl_config(shape)
    store, engine = cyc["store"], cyc["engine"]
    out: dict[str, tuple[float, str]] = {}

    # -- spans from the traced cycle ------------------------------------------
    by_id = {s["id"]: s for s in tracer.spans}
    s0, s1 = cyc["windows"]["stream"]
    for k, v in store_metrics(tracer.between(s0, cyc["windows"]["crawl"][1])).items():
        out[k] = (v, "B" if ".bytes_written." in k else "s")
    n_batches = len(cyc["batch_s"])
    out["stream.batches"] = (float(n_batches), "count")
    out["stream.store_calls_per_batch"] = (
        _ratio(public_store_calls(tracer.between(s0, s1), by_id), n_batches), "count")
    mdir = os.path.join(store.root, "_manifests")
    out["store.manifests"] = (float(len(os.listdir(mdir))), "count")
    out["store.seen_files"] = (float(len(store.preview(spark, "seen").inputFiles())), "count")

    # -- MONO_EPOCH_TIMING phases ------------------------------------------------
    per_epoch = cyc["stats"].per_epoch
    for phase in EPOCH_PHASES:
        vals = [m["timing"][phase] for m in per_epoch if phase in m.get("timing", {})]
        out[f"epoch.{phase}_s"] = (statistics.median(vals) if vals else 0.0, "s")

    # -- forced standalone operator calls on the state the crawl started from --
    # in epoch order: the feed through enqueue, then epoch 0's wave through
    # select → fetch → outlinks, and its outlinks through dedup and the gate
    start = cyc["drained_epoch"]
    raw = spark.read.parquet(os.path.join(run_dir, "feed")).select("url", "depth")
    n_raw = sum(len(b) for b in batches)
    prepared = enqueue.dedup_within_batch(enqueue.prepare_candidates(raw))
    out["enqueue.prepare_s"] = (_timed_noop(spark, "enqueue", prepared), "s")
    out["enqueue.candidates_in"] = (float(n_raw), "count")
    out["enqueue.intra_batch_dup_ratio"] = (1.0 - _ratio(prepared.count(), n_raw), "ratio")

    frontier = store.load(spark, "frontier", start).cache()
    wave = politeness.select_wave(frontier, cfg)
    out["politeness.select_wave_s"] = (_timed_noop(spark, "politeness.select_wave", wave), "s")
    wave = wave.cache()
    n_wave = wave.count()
    per_host = frontier.groupBy("host").agg(F.count("*").alias("n"), F.first("quota").alias("q"))
    quota_rows = per_host.select(F.sum(F.least("n", "q"))).first()[0] or 0
    out["politeness.wave_fill_ratio"] = (
        _ratio(n_wave, min(cfg.wave_size, quota_rows)), "ratio")

    fetched = fetch.fetch_wave(wave.select(*FRONTIER_COLS_Q, "wave_pos"), engine.corpus, cfg)
    out["fetch.validate_s"] = (_timed_noop(spark, "fetch.validate", fetched), "s")
    fetched = fetched.cache()
    agg = fetched.agg(F.count("*").alias("rows"),
                      F.sum((F.col("status") == OK).cast("long")).alias("ok"),
                      F.sum(F.length("bytes")).alias("bytes")).first()
    out["fetch.validate_rows"] = (float(agg["rows"]), "count")
    out["fetch.payload_bytes_scanned"] = (float(agg["bytes"] or 0), "B")
    out["fetch.ok_ratio"] = (_ratio(agg["ok"], agg["rows"]), "ratio")
    out["fetch.payload_write_mode"] = (PAYLOAD_WRITE_MODES[engine.payload_write_mode], "mode")

    ok = fetched.where(F.col("status") == OK).select("url_norm", "depth")
    links = outlinks.expand_outlinks(ok, cfg)
    out["outlinks.expand_s"] = (_timed_noop(spark, "outlinks.expand", links), "s")
    links = links.cache()
    out["outlinks.links_per_ok"] = (_ratio(links.count(), agg["ok"]), "count")

    seen = store.load(spark, "seen", start).cache()
    bloom = store.load(spark, "bloom", start)
    cands = enqueue.dedup_within_batch(enqueue.prepare_candidates(links)).cache()
    n_cands = cands.count()
    new = dedup.filter_new(cands, seen, bloom, cfg)
    out["dedup.filter_new_s"] = (_timed_noop(spark, "dedup.filter_new", new), "s")
    new = new.cache()
    n_new = new.count()
    merged = dedup.merge_filter(bloom, dedup.build_filter(new.select("url_hash"), cfg), cfg)
    out["dedup.filter_build_merge_s"] = (_timed_noop(spark, "dedup.build_merge", merged), "s")
    suspects = dedup.bloom_prefilter(cands, bloom, cfg).where("maybe_seen").cache()
    n_maybe = suspects.count()
    n_fp = suspects.join(seen.select("url_hash"), "url_hash", "left_anti").count()
    out["dedup.new_ratio"] = (_ratio(n_new, n_cands), "ratio")
    out["dedup.maybe_seen_ratio"] = (_ratio(n_maybe, n_cands), "ratio")
    out["dedup.false_positive_ratio"] = (_ratio(n_fp, n_maybe), "ratio")
    out["dedup.seen_rows"] = (float(seen.count()), "count")

    admitted, denied = politeness.gate(new, engine.host_state, cfg)
    out["politeness.gate_s"] = (_timed_noop(spark, "politeness.gate", admitted, denied), "s")
    out["politeness.denied_ratio"] = (_ratio(denied.count(), n_new), "ratio")
    for df in (frontier, wave, fetched, links, seen, cands, new, suspects):
        df.unpersist()

    # bootstrap of a fresh store from the seed list, its durable tail included
    boot = CrawlEngine(spark, SnapshotStore(os.path.join(run_dir, "boot-state")), world, cfg)
    t0 = time.perf_counter()
    boot.bootstrap()()
    out["epoch.bootstrap_s"] = (time.perf_counter() - t0, "s")

    # tracing overhead: the cycle's crawl again, on stores pinned to the
    # manifests the stream left (data files shared read-only), once untraced
    # and once traced; the order alternates with the seed's parity, since the
    # second crawl runs a little warmer
    ups = {}
    for label in trace_order:
        pinned = os.path.join(run_dir, f"{label}-state")
        os.makedirs(os.path.join(pinned, "_manifests"))
        for ep in range(cyc["drained_epoch"] + 1):
            src = store._manifest_path(ep)
            shutil.copy(src, os.path.join(pinned, "_manifests", os.path.basename(src)))
        if label == "traced":
            tracer.install()
            os.environ["MONO_EPOCH_TIMING"] = "1"
        t0 = time.perf_counter()
        st = CrawlEngine(spark, SnapshotStore(pinned), world, cfg).run(max_epochs=inputs.EPOCHS)
        ups[label] = (st.scheduled + st.fetched) / (time.perf_counter() - t0)
        tracer.uninstall()
        os.environ.pop("MONO_EPOCH_TIMING", None)
    out["trace.urls_per_s"] = (ups["traced"], "URL/s")
    out["trace.overhead_urls_per_s"] = (ups["traced"] - ups["untraced"], "URL/s")

    # -- queries ------------------------------------------------------------------
    for mod, secs in querymix.module_seconds(cyc["query_s"]).items():
        out[f"queries.{mod}_s"] = (secs, "s")
    out["queries.oracle_mismatches"] = (float(len(check["bad_queries"])), "count")

    tracer.dump(os.path.join(os.path.dirname(run_dir), "last-trace.json"))
    return out


def event_log_metrics(run_dir, cyc, cores) -> dict[str, tuple[float, str]]:
    """Spark substrate totals over the traced cycle, plus job counts."""
    events = read_event_log(os.path.join(run_dir, "eventlog"))
    off = cyc["clock_offset"]
    w0 = (cyc["windows"]["stream"][0] + off) * 1000
    w1 = (cyc["windows"]["queries"][1] + off) * 1000
    units = {"spark.task_s": "s", "spark.busy_share": "ratio", "spark.gc_s": "s",
             "spark.jobs": "count", "spark.tasks": "count"}
    out = {k: (v, units.get(k, "B")) for k, v in spark_metrics(events, w0, w1, cores).items()}
    c0, c1 = cyc["windows"]["crawl"]
    jobs = jobs_between(events, (c0 + off) * 1000, (c1 + off) * 1000)
    out["epoch.jobs_per_epoch"] = (_ratio(jobs, cyc["stats"].epochs), "count")
    out["politeness.rank_task_skew"] = (
        task_skew(events, "perfbench:politeness.select_wave"), "ratio")
    return out
