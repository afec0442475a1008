"""Streaming frontier enqueue — the continuous-discovery twin of O1-O4.

The batch engine enqueues discovered URLs once per epoch (bootstrap seeds,
then each epoch's outlinks). A production crawler ALSO ingests continuous
discovery feeds — sitemap pings, partner seed drops, re-crawl requests —
which is this module: a file-source ``readStream`` over a seed-feed
directory, each micro-batch run through the SAME operators as the batch
path (the Arrow canonicalizer UDF → xxhash64 → intra-batch min-depth dedup →
Bloom/cuckoo prefilter + exact-confirm seen gate → enqueue-time politeness
gate), appending to the SAME SnapshotStore tables the epoch pipeline reads
(frontier / seen / bloom / denied). Reference analogue: the transactional
enqueue half of ``VisitService.save`` (/root/reference/src/TODO.MD:36-51),
fed by an unbounded request stream rather than a crawl epoch.

Exactly-once across replays: Structured Streaming's file source +
checkpoint guarantee each batch id is delivered at-least-once to
``foreachBatch``; the store commit embeds ``stream_batch_id`` in the epoch
manifest meta (the manifest rename is the single atomic commit point), and
a replayed batch id ≤ the max already committed is skipped. Either the
manifest landed — replay skips — or it did not — the staged dirs are
orphans outside any manifest, invisible to every reader, and the replay
re-stages cleanly. This is the same idempotent-commit pattern the Iceberg
twin documents for ``reenqueue``.

Single-writer contract: the stream and the batch epoch loop share the
store's epoch sequence, so they must not COMMIT concurrently (same
single-writer rule the reference's frontier transaction has; Iceberg would
serialize the two writers by optimistic retry). Run the stream between
crawl runs, or drain it with ``run_available()`` before ``CrawlEngine.run``.

Scale: each micro-batch is an ordinary batch plan — the canonicalizer is
one Arrow UDF pass, the Bloom probe is the shard-cogrouped path, the exact
confirm is an anti-join on url_hash — so the 10^10-frontier analysis of the
batch enqueue applies per batch verbatim; seen/bloom state grows across
batches exactly as it does across epochs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from monocator_spark import spec
from monocator_spark.operators import dedup, enqueue, politeness
from monocator_spark.operators.enqueue import FRONTIER_COLS_Q

SEED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("depth", IntegerType()),
    ]
)


class StreamingEnqueue:
    """Continuous seed-feed ingestion into a SnapshotStore's frontier.

    ``host_state`` (host, robots_rules, budget_per_epoch, blacklisted) makes
    the stream apply the same enqueue-time politeness gate as the engine.
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: spec.CrawlConfig,
        store,
        seeds_dir: str,
        checkpoint_dir: str,
        host_state: DataFrame,
    ):
        self.spark = spark
        self.cfg = cfg
        self.store = store
        self.seeds_dir = seeds_dir
        self.checkpoint_dir = checkpoint_dir
        self.host_state = host_state

    # -- replay bookkeeping -----------------------------------------------------
    def _last_stream_batch(self) -> int:
        """Max stream_batch_id across ALL committed manifests (−1 if none).

        The scan is O(committed epochs) driver-side JSON reads — manifest
        files are a few hundred bytes each; at Iceberg scale this is a
        snapshot-summary-property lookup instead."""
        last = self.store.last_epoch()
        if last is None:
            return -1
        mdir = os.path.join(self.store.root, "_manifests")
        best = -1
        for f in os.listdir(mdir):
            if not (f.startswith("epoch-") and f.endswith(".json")):
                continue
            with open(os.path.join(mdir, f)) as fh:
                meta = json.load(fh).get("meta") or {}
            bid = meta.get("stream_batch_id")
            if bid is not None:
                best = max(best, int(bid))
        return best

    # -- the micro-batch body ----------------------------------------------------
    def _process(self, batch: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= self._last_stream_batch():
            return  # replayed batch: its manifest already landed
        spark = self.spark
        raw = batch
        if "depth" not in raw.columns:
            raw = raw.withColumn("depth", F.lit(0))
        raw = raw.select("url", F.coalesce("depth", F.lit(0)).alias("depth"))
        cands = enqueue.dedup_within_batch(enqueue.prepare_candidates(raw)).cache()
        persisted = [cands]
        try:
            seen = self.store.preview(spark, "seen")
            bloom = self.store.preview(spark, "bloom")
            new = dedup.filter_new(cands, seen, bloom, self.cfg).cache()
            persisted.append(new)
            admitted, denied = politeness.gate(new, self.host_state, self.cfg)
            last = self.store.last_epoch()
            epoch = 0 if last is None else last + 1
            # carry the crawl's logical epoch forward: CrawlEngine.run
            # resumes from meta()["crawl_epoch"], which a stream commit
            # must preserve (fresh store → -1, i.e. "crawl not started")
            prev_meta = (self.store.meta() or {}) if last is not None else {}
            crawl_epoch = prev_meta.get("crawl_epoch", -1)
            n_new = new.count()  # pins both caches; O(batch) rows
            # frontier is overwrite-state in the epoch pipeline; an APPEND
            # composes: the appended dirs join the committed file set, and
            # the engine's next overwrite folds them into the new snapshot.
            self.store.stage_append(
                "frontier", admitted.select(*FRONTIER_COLS_Q), epoch
            )
            self.store.stage_append(
                "seen", new.select("url_hash", "url_norm"), epoch
            )
            delta = dedup.build_filter(new.select("url_hash"), self.cfg)
            self.store.stage_overwrite(
                "bloom", dedup.merge_filter(bloom, delta, self.cfg), epoch
            )
            self.store.stage_append(
                "denied", denied.withColumn("epoch", F.lit(epoch)), epoch
            )
            self.store.commit(
                epoch,
                meta={
                    "crawl_epoch": crawl_epoch,
                    "stream_batch_id": int(batch_id),
                    "stream_source": self.seeds_dir,
                    "stream_new_urls": int(n_new),
                },
            )
        except BaseException:
            self.store.abort()
            raise
        finally:
            for df in persisted:
                df.unpersist()

    # -- drivers ------------------------------------------------------------------
    def run_available(self, max_files_per_trigger: int = 1) -> None:
        """Drain every file currently in the feed directory, then stop.

        One micro-batch per feed file (AvailableNow honors
        ``maxFilesPerTrigger``, so each drop commits separately — the
        cross-batch dedup goes through the Bloom+seen gate, not the
        intra-batch rule); restartable — the checkpoint remembers consumed
        files, the manifest meta remembers committed batch ids, so a crash
        between the two replays idempotently.
        """
        q = (
            self.spark.readStream.schema(SEED_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(self.seeds_dir)
            .writeStream.foreachBatch(self._process)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
