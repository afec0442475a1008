"""One benchmark cycle: feed drain → crawl → query mix, then output checks.

The cycle runs through the public API only: ``StreamingEnqueue.run_available``
drains the seed feed into a fresh ``SnapshotStore`` (file 0 is the seed list,
so the stream bootstraps the store), ``CrawlEngine.run`` then crawls that
store for the workload's epochs, and the query mix runs over the seeded
tables. Commit times come from wrapping the store instance's ``commit``.
"""

from __future__ import annotations

import os
import statistics
import time

import inputs
import querymix
from spans import dir_bytes


def expected_crawl(world: str, shape: inputs.Shape, batches: list[list[str]]):
    """Simulator order, seen set and post-drain seen set for this feed.

    Stream batches dedup first-wins across files and min-depth within one,
    and every feed URL has depth 0, so the drained store equals a batch
    bootstrap of the concatenated feed, which is what the simulator runs.
    """
    import pyarrow.parquet as pq

    from monocator_spark.functions.hashing import xxh64_str
    from monocator_spark.functions.urlnorm import canonicalize_url
    from monocator_spark.sim.simulator import ReferenceSimulator

    memo = {r["image_id"]: r for r in
            pq.read_table(os.path.join(world, "fetch_memo.parquet")).to_pylist()}

    class MemoSimulator(ReferenceSimulator):
        def _fetch(self, e):
            row = memo.get(e.url_norm.rsplit("/", 1)[-1])
            return (404, None) if row is None else (row["status"], row)

    hosts = pq.read_table(os.path.join(world, "host_state")).to_pylist()
    cfg = crawl_config(shape)
    urls = [u for b in batches for u in b]
    res = MemoSimulator(memo.values(), hosts, cfg).run(urls, max_epochs=inputs.EPOCHS)
    order = [(d["epoch"], d["wave_pos"], d["url_hash"]) for d in res.order]
    drained = set()
    for u in urls:
        norm = canonicalize_url(u)
        if norm is not None:
            drained.add((xxh64_str(norm), norm))
    return {
        "order": inputs.checksum(order),
        "seen": inputs.checksum(sorted(res.seen.items())),
        "drained_seen": inputs.checksum(sorted(drained)),
        "scheduled": len(res.order),
    }


def crawl_config(shape: inputs.Shape):
    from monocator_spark import spec

    return spec.CrawlConfig(n_images=shape.n_images, n_hosts=shape.n_hosts,
                            wave_size=shape.wave_size)


def _diffs(start: float, stamps: list[float]) -> list[float]:
    out, prev = [], start
    for t in stamps:
        out.append(t - prev)
        prev = t
    return out


def run_cycle(spark, shape: inputs.Shape, world: str, cycle_dir: str, feed_dir: str,
              table_dir: str, n_reannounced: int) -> dict:
    """Run one cycle; returns raw timings plus the handles the checks need.

    The run has no separate warm-up job: the seed-list batch, the first
    Spark work after set-up, carries the cold start (Python workers, class
    loading). It is reported through the tail; the median and throughput
    of ingestion are taken over the re-announcement batches after it."""
    from monocator_spark.plans.epoch import CrawlEngine
    from monocator_spark.sources.store import SnapshotStore
    from monocator_spark.streaming.enqueue_stream import StreamingEnqueue

    cfg = crawl_config(shape)
    store = SnapshotStore(os.path.join(cycle_dir, "state"))
    commits: list[tuple[float, dict]] = []
    inner_commit = store.commit

    def commit(epoch, meta=None):
        inner_commit(epoch, meta)
        commits.append((time.perf_counter(), dict(meta or {})))

    store.commit = commit
    stream = StreamingEnqueue(spark, cfg, store, feed_dir, os.path.join(cycle_dir, "ckpt"),
                              host_state=spark.read.parquet(f"{world}/host_state"))
    t0 = time.perf_counter()
    stream.run_available()
    t1 = time.perf_counter()
    drained_epoch = store.last_epoch()
    batch_s = _diffs(t0, [t for t, m in commits if "stream_batch_id" in m])

    engine = CrawlEngine(spark, store, world, cfg)
    t2 = time.perf_counter()
    stats = engine.run(max_epochs=inputs.EPOCHS)
    t3 = time.perf_counter()
    crawl_commits = [t for t, m in commits
                     if t >= t2 and "stream_batch_id" not in m and m.get("crawl_epoch", -1) >= 0]

    query_s, query_out = querymix.run_mix(spark, table_dir)
    t4 = time.perf_counter()
    return {
        "clock_offset": time.time() - time.perf_counter(),
        "windows": {"stream": (t0, t1), "crawl": (t2, t3), "queries": (t3, t4)},
        "batch_s": batch_s,
        "reannounced_urls": n_reannounced,
        "crawl_s": t3 - t2,
        "urls": stats.scheduled + stats.fetched,
        "first_commit_s": crawl_commits[0] - t2 if crawl_commits else float("nan"),
        "epoch_s": _diffs(crawl_commits[0], crawl_commits[1:]) if crawl_commits else [],
        "stats": stats,
        "query_s": query_s,
        "query_out": query_out,
        "store": store,
        "engine": engine,
        "drained_epoch": drained_epoch,
        "state_dir": os.path.join(cycle_dir, "state"),
    }


def check_cycle(spark, cyc: dict, expected: dict, table_dir: str) -> dict:
    """Compare the cycle's outputs with the expectations; untimed."""
    from monocator_spark.sources.store import SnapshotStore

    store: SnapshotStore = cyc["store"]
    order = [(r.epoch, r.wave_pos, r.url_hash) for r in
             store.load(spark, "order").orderBy("epoch", "wave_pos").collect()]
    seen = sorted((r.url_hash, r.url_norm) for r in store.load(spark, "seen").collect())
    drained = sorted((r.url_hash, r.url_norm) for r in
                     store.load(spark, "seen", cyc["drained_epoch"]).collect())
    got = {"order": inputs.checksum(order), "seen": inputs.checksum(seen),
           "drained_seen": inputs.checksum(drained)}
    bad_queries = querymix.oracle_mismatches(table_dir, cyc["query_out"])
    return {
        "got": got,
        "crawl_ok": got["order"] == expected["order"] and got["seen"] == expected["seen"],
        "stream_ok": got["drained_seen"] == expected["drained_seen"],
        "bad_queries": bad_queries,
        "seen_rows": len(seen),
    }


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    k = max(1, -(-len(s) * q // 100))
    return s[int(k) - 1]


def end_to_end(cycles: list[dict], checks: list[dict], setup_s: float,
               peak_rss_mb: float) -> dict[str, float]:
    batches = [b for c in cycles for b in c["batch_s"]]
    steady = [b for c in cycles for b in c["batch_s"][1:]]
    epochs = [e for c in cycles for e in c["epoch_s"]]
    return {
        "setup_s": setup_s,
        "urls_per_s": sum(c["urls"] for c in cycles) / sum(c["crawl_s"] for c in cycles),
        "epoch_p50_s": statistics.median(epochs) if epochs else float("nan"),
        "first_commit_s": statistics.median(c["first_commit_s"] for c in cycles),
        "ingest_batch_p50_s": statistics.median(steady),
        "ingest_batch_tail_s": nearest_rank(batches, 90),
        "ingest_urls_per_s": sum(c["reannounced_urls"] for c in cycles) / sum(steady),
        "query_mix_s": statistics.median(sum(c["query_s"].values()) for c in cycles),
        "store_bytes_per_url": statistics.median(
            dir_bytes(c["state_dir"]) / max(1, k["seen_rows"])
            for c, k in zip(cycles, checks)),
        "peak_rss_mb": peak_rss_mb,
    }
