"""cache vs rejoin payload writes — identical crawl output.

The bytes-bearing ``fetched`` table is written either straight from the
wave's cached payload ("cache": no per-epoch corpus re-scan, right when a
wave's payload fits the storage-memory budget) or via a flusher-side
corpus re-join over the narrow validate output ("rejoin": no wave-sized
payload cache tier, right at 100 TB payload scale). This pins that the
switch is EXECUTION-ONLY: the same world crawled in both modes — change
detection on, so the narrow ``phash_hist`` state path is exercised too —
produces byte-identical order / seen / fetched tables INCLUDING the
payload bytes. The mode is derived from the corpus's parquet footers
against ``payload_cache_max_bytes``, so each test forces a regime through
that budget.
"""

from __future__ import annotations

import dataclasses

import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 150, 8, 25
BASE = spec.CrawlConfig(
    n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=30, change_detection=True,
)


@pytest.fixture(scope="module")
def world(spark, tmp_root):
    d = f"{tmp_root}/world-paywrite"
    dg.write_world(spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)
    return d


# a budget of 1 byte never fits a wave's payload; 1 TiB always does
BUDGET = {"cache": 1 << 40, "rejoin": 1}


def _crawl(spark, tmp_root, world, mode: str):
    store = SnapshotStore(f"{tmp_root}/state-paywrite-{mode}")
    cfg = dataclasses.replace(BASE, payload_cache_max_bytes=BUDGET[mode])
    eng = CrawlEngine(spark, store, world, cfg)
    assert eng.payload_write_mode == mode
    eng.run()
    order = [
        (r.epoch, r.wave_pos, r.url_norm, r.url_hash)
        for r in eng.order_df().orderBy("epoch", "wave_pos").collect()
    ]
    seen = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    fetched = sorted(
        (
            r.fetch_epoch, r.wave_pos, r.image_id, r.phash, r.status,
            bytes(r.bytes) if r.bytes is not None else None,
        )
        for r in eng.fetched_df().collect()
    )
    return order, seen, fetched


def test_cache_and_rejoin_modes_identical(spark, tmp_root, world):
    ca = _crawl(spark, tmp_root, world, "cache")
    rj = _crawl(spark, tmp_root, world, "rejoin")
    assert ca[0] == rj[0] and len(ca[0]) > 0   # crawl order
    assert ca[1] == rj[1]                      # seen set
    assert ca[2] == rj[2] and len(ca[2]) > 0   # fetched rows incl. payloads
    assert any(b is not None for *_, b in ca[2])  # payloads actually present


def test_auto_resolves_both_regimes(spark, tmp_root, world):
    """The footer-based estimator picks cache when a wave's payload fits
    the budget and rejoin when it does not — same world, budget varied."""
    store = SnapshotStore(f"{tmp_root}/state-paywrite-auto")
    big = CrawlEngine(
        spark, store, world,
        dataclasses.replace(BASE, payload_cache_max_bytes=1 << 40),
    )
    assert big.payload_write_mode == "cache"
    tiny = CrawlEngine(
        spark, store, world,
        dataclasses.replace(BASE, payload_cache_max_bytes=1),
    )
    assert tiny.payload_write_mode == "rejoin"
