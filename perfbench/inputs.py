"""Benchmark inputs: cached corpus worlds plus seed-derived feeds and tables.

The corpus (images + host_state) is a pure function of its sizes, so it is
built once per checkout under ``perfbench/.work/worlds`` and reused. Every
input that the ``--seed`` argument controls is rebuilt per run in the run
directory: the seed feed (seed list with non-canonical duplicate variants,
then re-announcement files) and the relational/text tables the query mix
reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
HOST_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        (
            "robots_rules",
            pa.list_(pa.struct([("allow", pa.bool_()), ("path_prefix", pa.string())])),
        ),
        ("crawl_delay_ms", pa.int64()),
        ("budget_per_epoch", pa.int32()),
        ("blacklisted", pa.bool_()),
    ]
)
FEED_SCHEMA = pa.schema([("url", pa.string()), ("depth", pa.int32())])
MEMO_SCHEMA = pa.schema(
    [("image_id", pa.string()), ("status", pa.int32()), ("caption", pa.string()),
     ("phash", pa.int64())]
)
CORPUS_FILES = 4
EPOCHS = 2  # crawl epochs per cycle
DUP_FRAC = 0.2  # share of the seed list that re-states earlier seeds
REANNOUNCE = 0.8  # share of the re-announcement file already in the seed list


@dataclass(frozen=True)
class Shape:
    """One workload's world and cycle sizes."""

    n_images: int
    n_hosts: int
    tiny: bool  # every image 32x32 (scheduler-bound) vs mixed 32..128 px
    wave_size: int
    seeds: int  # URLs in feed file 0 (the seed list)
    feed_urls: int  # URLs in feed file 1 (the re-announcement file)


def world_dir(work: str, shape: Shape) -> str:
    tag = f"n{shape.n_images}-h{shape.n_hosts}-{'tiny' if shape.tiny else 'mixed'}"
    return os.path.join(work, "worlds", tag)


def ensure_world(work: str, shape: Shape) -> str:
    """Build (once) the corpus, host_state and the simulator's fetch memo."""
    out = world_dir(work, shape)
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    from monocator_spark.datagen import corpus as dg
    from monocator_spark.sim.simulator import ReferenceSimulator
    from monocator_spark import spec

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "corpus"))
    os.makedirs(os.path.join(tmp, "host_state"))
    rows = [dg.corpus_row(i, tiny=shape.tiny) for i in range(shape.n_images)]
    step = -(-len(rows) // CORPUS_FILES)
    for k in range(CORPUS_FILES):
        part = pa.Table.from_pylist(rows[k * step:(k + 1) * step], schema=CORPUS_SCHEMA)
        pq.write_table(part, os.path.join(tmp, "corpus", f"part-{k:05d}.parquet"),
                       compression="none")
    hosts = dg.build_host_state(shape.n_hosts, shape.n_images).to_dict("records")
    pq.write_table(pa.Table.from_pylist(hosts, schema=HOST_SCHEMA),
                   os.path.join(tmp, "host_state", "part-00000.parquet"))
    # the simulator's per-image fetch verdict, computed once with its own
    # _fetch: the corpus never changes, so per-run simulations reuse it
    cfg = spec.CrawlConfig(n_images=shape.n_images, n_hosts=shape.n_hosts)
    sim = ReferenceSimulator(rows, hosts, cfg)
    memo = []
    for r in rows:
        status, _ = sim._fetch(_entry_for(r["image_id"]))
        memo.append({"image_id": r["image_id"], "status": status,
                     "caption": r["caption"], "phash": r["phash"]})
    pq.write_table(pa.Table.from_pylist(memo, schema=MEMO_SCHEMA),
                   os.path.join(tmp, "fetch_memo.parquet"))
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump({"n_images": shape.n_images, "n_hosts": shape.n_hosts,
                   "tiny": shape.tiny}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _entry_for(image_id: str):
    from monocator_spark.sim.simulator import Entry

    return Entry(url_norm=f"http://x/{image_id}", url_hash=0, host="x",
                 priority=0.0, depth=0)


def prewarm(path: str) -> int:
    """Read every file under ``path`` once so the page cache holds it."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total


# -- seed-derived crawl inputs -------------------------------------------------

def feed_batches(seed: int, shape: Shape) -> list[list[str]]:
    """Feed file 0 is the seed list; file 1 re-announces mostly-seen URLs."""
    from monocator_spark.datagen import corpus as dg

    def urls(idx, variants):
        return [dg.apply_variant(dg.url_of_image(int(i), shape.n_hosts), int(v))
                for i, v in zip(idx, variants)]

    rng = np.random.default_rng([seed, 1])
    n_uniq = max(1, int(shape.seeds * (1 - DUP_FRAC)))
    picks = rng.choice(shape.n_images, size=n_uniq, replace=False)
    idx = np.concatenate([picks, rng.choice(picks, size=shape.seeds - n_uniq)])
    seed_list = urls(idx, rng.integers(0, 4, size=len(idx)))
    old = rng.random(shape.feed_urls) < REANNOUNCE
    fresh = rng.integers(0, shape.n_images, size=shape.feed_urls)
    known = rng.choice(picks, size=shape.feed_urls)
    reannounced = urls(np.where(old, known, fresh), rng.integers(0, 4, size=shape.feed_urls))
    return [seed_list, reannounced]


def write_feed(feed_dir: str, batches: list[list[str]]) -> None:
    """One parquet file per batch; mtimes order the file-source batches."""
    os.makedirs(feed_dir, exist_ok=True)
    base = 1_700_000_000
    for k, urls in enumerate(batches):
        path = os.path.join(feed_dir, f"feed-{k:04d}.parquet")
        tbl = pa.Table.from_pylist([{"url": u, "depth": 0} for u in urls], schema=FEED_SCHEMA)
        pq.write_table(tbl, path)
        os.utime(path, (base + k, base + k))


def run_world(world: str, run_dir: str, seed_urls: list[str]) -> str:
    """An engine world dir: the cached corpus/host_state plus this run's seeds."""
    out = os.path.join(run_dir, "world")
    os.makedirs(os.path.join(out, "seeds"))
    for sub in ("corpus", "host_state"):
        os.symlink(os.path.join(world, sub), os.path.join(out, sub))
    pq.write_table(pa.Table.from_pylist([{"url": u} for u in seed_urls],
                                        schema=pa.schema([("url", pa.string())])),
                   os.path.join(out, "seeds", "part-00000.parquet"))
    return out


def checksum(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# -- seed-derived query tables -------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def write_query_tables(out: str, seed: int, scale: float = 1.0) -> None:
    """documents / embeddings / events / orders in the shape TESTDATA.md describes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_docs = int(500 * scale)
    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.05:  # exact duplicates for the dedup ops
            texts.append(texts[int(rng.integers(0, d))])
            continue
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(_WORDS, size=n_chars // 3)
        texts.append(" ".join(words)[:n_chars])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P)),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, size=n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    n_vec, dim, n_lab = int(500 * scale), 64, 10
    centers = rng.normal(size=(n_lab, dim))
    labels = rng.integers(0, n_lab, size=n_vec)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))

    n_ev = int(10_000 * scale)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(30 * 86_400e6 / n_ev, size=n_ev).astype(np.int64)
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n_ev)),
        "value": pa.array(np.round(rng.exponential(50, size=n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n_ev)]),
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))

    n_ord = int(15_000 * scale)
    days = rng.integers(0, 2404, size=n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, size=n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n_ord)),
        # cent prices drawn without replacement: the top-k ops need no ties
        "o_totalprice": pa.array(
            (rng.choice(49_900_000, size=n_ord, replace=False) + 100_000) / 100.0),
        "o_orderdate": pa.array(np.datetime64("1995-01-01", "us")
                                + (days * 86_400_000_000).astype("timedelta64[us]"),
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord)),
    })
    pq.write_table(orders, os.path.join(out, "orders.parquet"))
