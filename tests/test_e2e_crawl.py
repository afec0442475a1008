"""End-to-end: Spark engine == reference simulator (SURVEY.md §5.2 items 1-4).

One shared tiny world; covers order/seen/fetched golden equality, fault
paths (corrupt / oversize / missing → 422 / 413 / 404+retry), and exact
kill-resume. Runs at local[4] (the session fixture) — the BENCH harness
separately proves local[8] vs local[32] byte-equality.
"""

import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sim.simulator import ReferenceSimulator
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 200, 8, 30
CORRUPT = frozenset({7})
OVERSIZE = frozenset({11})
CFG = spec.CrawlConfig(n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=40)


@pytest.fixture(scope="module")
def world(spark, tmp_root):
    d = f"{tmp_root}/world-e2e"
    dg.write_world(
        spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS,
        corrupt_ids=CORRUPT, oversize_ids=OVERSIZE,
    )
    return d


@pytest.fixture(scope="module")
def sim_result():
    corpus = dg.build_corpus(N_IMAGES, corrupt_ids=CORRUPT, oversize_ids=OVERSIZE)
    sim = ReferenceSimulator(
        corpus.to_dict("records"),
        dg.build_host_state(N_HOSTS, N_IMAGES).to_dict("records"),
        CFG,
    )
    seeds = dg.build_seeds(N_SEEDS, N_IMAGES, N_HOSTS)["url"].tolist()
    # missing-page fixture: two seeds point past the corpus (404 + retry path)
    seeds += [f"http://h1.example/img{N_IMAGES + 5:010d}",
              f"http://h2.example/img{N_IMAGES + 6:010d}"]
    return sim.run(seeds), seeds


@pytest.fixture(scope="module")
def engine_run(spark, tmp_root, world, sim_result):
    _, seeds = sim_result
    # engine reads seeds from parquet — write the extended list
    spark.createDataFrame([(u,) for u in seeds], "url string").write.mode(
        "overwrite"
    ).parquet(f"{world}/seeds")
    store = SnapshotStore(f"{tmp_root}/state-e2e")
    eng = CrawlEngine(spark, store, world, CFG)
    stats = eng.run()
    return eng, stats


def test_crawl_order_matches(engine_run, sim_result):
    eng, _ = engine_run
    sres, _ = sim_result
    got = [(r.epoch, r.wave_pos, r.url_norm, r.url_hash)
           for r in eng.order_df().orderBy("epoch", "wave_pos").collect()]
    exp = [(d["epoch"], d["wave_pos"], d["url_norm"], d["url_hash"])
           for d in sres.order]
    assert got == exp


def test_seen_set_matches(engine_run, sim_result):
    eng, _ = engine_run
    sres, _ = sim_result
    got = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    assert got == set(sres.seen.items())


def test_fetched_payload_matches(engine_run, sim_result):
    eng, _ = engine_run
    sres, _ = sim_result
    got = {(r.url_hash, r.image_id, r.caption, r.phash)
           for r in eng.fetched_df().collect()}
    exp = {(d["url_hash"], d["image_id"], d["caption"], d["phash"])
           for d in sres.fetched}
    assert got == exp


def test_fault_paths_exercised(engine_run, sim_result):
    """Corrupt → 422, oversize → 413, missing → 404-retried-then-failed,
    and the engine agrees with the simulator row-for-row."""
    eng, _ = engine_run
    sres, _ = sim_result
    got = {(r.url_hash, r.status) for r in
           eng.store.load(eng.spark, "failed").collect()}
    exp = {(d["url_hash"], d["status"]) for d in sres.failed}
    assert got == exp
    # the missing seeds really exercised 404: they must appear as failed-404
    statuses = {s for _, s in exp}
    assert 404 in statuses


def test_denied_matches(engine_run, sim_result):
    eng, _ = engine_run
    sres, _ = sim_result
    got = {(r.url_hash, r.reason) for r in
           eng.store.load(eng.spark, "denied").collect()}
    exp = {(d["url_hash"], d["reason"]) for d in sres.denied}
    assert got == exp


def test_resume_exact(spark, tmp_root, world, sim_result, engine_run):
    """Kill after 1 epoch → resume → identical order table (§5.2 item 4)."""
    sres, _ = sim_result
    store = SnapshotStore(f"{tmp_root}/state-resume")
    eng1 = CrawlEngine(spark, store, world, CFG)
    eng1.run(max_epochs=1)
    eng2 = CrawlEngine(spark, SnapshotStore(f"{tmp_root}/state-resume"), world, CFG)
    eng2.run()
    got = [(r.epoch, r.wave_pos, r.url_hash)
           for r in eng2.order_df().orderBy("epoch", "wave_pos").collect()]
    exp = [(d["epoch"], d["wave_pos"], d["url_hash"]) for d in sres.order]
    assert got == exp


def test_lineage_and_metrics_written(engine_run):
    eng, stats = engine_run
    metrics = eng.store.load(eng.spark, "metrics")
    assert metrics.count() == stats.epochs
    lineage = eng.store.load(eng.spark, "lineage")
    assert lineage is not None and lineage.count() > 0
    row = lineage.first()
    assert 0.0 <= row.dedup_hit_rate <= 1.0
    # O17 frontier-cardinality metric (approx_count_distinct via Observation):
    # present every epoch, non-negative, and ≤ total frontier rows
    mrows = metrics.orderBy("epoch").collect()
    assert all(m.frontier_hosts_approx >= 0 for m in mrows)
    assert all(
        m.frontier_hosts_approx <= max(m.frontier_size, 1) * 1.05 for m in mrows
    )


def test_per_epoch_timing_recorded(spark, tmp_root, world, monkeypatch):
    """Every epoch reports its phase breakdown, with no opt-in switch."""
    monkeypatch.delenv("MONO_EPOCH_TIMING", raising=False)
    eng = CrawlEngine(spark, SnapshotStore(f"{tmp_root}/state-timing"), world, CFG)
    stats = eng.run(max_epochs=2)
    assert len(stats.per_epoch) == 2
    for m in stats.per_epoch:
        timing = m["timing"]
        for phase in ("fetch_validate", "compute", "state_flush", "flush_commit"):
            assert timing[phase] >= 0.0
