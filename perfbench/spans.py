"""Spans around the engine's public functions, set from outside the program.

``Tracer.install`` replaces module and class attributes with wrappers that
record (name, start, end, parent, attrs) into an in-memory list; ``dump``
writes them out at exit. The engine looks its operators up through their
modules at call time, so patching the module attribute is enough. Operators
return lazy DataFrames, so their spans time plan construction only; store
spans are real work because ``stage_*`` and ``commit`` run Spark actions.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

# (module path, attribute) pairs; a dotted attribute names a class method
TRACED = [
    ("monocator_spark.operators.enqueue", "prepare_candidates"),
    ("monocator_spark.operators.enqueue", "dedup_within_batch"),
    ("monocator_spark.operators.dedup", "filter_new"),
    ("monocator_spark.operators.dedup", "build_filter"),
    ("monocator_spark.operators.dedup", "merge_filter"),
    ("monocator_spark.operators.politeness", "gate"),
    ("monocator_spark.operators.politeness", "select_wave"),
    ("monocator_spark.operators.fetch", "fetch_wave"),
    ("monocator_spark.operators.outlinks", "expand_outlinks"),
    ("monocator_spark.plans.epoch", "CrawlEngine.bootstrap"),
    ("monocator_spark.plans.epoch", "CrawlEngine.run"),
    ("monocator_spark.streaming.enqueue_stream", "StreamingEnqueue.run_available"),
]
STORE_METHODS = ("stage_append", "stage_overwrite", "stage_append_local", "commit",
                 "abort", "preview", "load", "meta", "last_epoch")
STAGE_METHODS = ("stage_append", "stage_overwrite", "stage_append_local")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    def _wrap(self, name: str, fn, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            parent = stack[-1] if stack else None
            span = {"name": name, "parent": parent, "thread": threading.get_ident()}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["id"])
            span["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
            if attrs_fn is not None:
                span.update(attrs_fn(args, kwargs))
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        from monocator_spark.sources.store import SnapshotStore

        for mod_name, attr in TRACED:
            owner = importlib.import_module(mod_name)
            short = mod_name.rsplit(".", 1)[-1]
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
                short = cls_name
            self._patch(owner, attr, f"{short}.{attr}")
        for attr in STORE_METHODS:
            attrs_fn = _stage_attrs if attr in STAGE_METHODS else None
            self._patch(SnapshotStore, attr, f"store.{attr}", attrs_fn)

    def _patch(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        fn = owner.__dict__[attr]
        self._restore.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(name, fn, attrs_fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore = []

    def between(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if "end" in s and t0 <= s["start"] and s["end"] <= t1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _stage_attrs(args, kwargs) -> dict:
    """table name and bytes of the directory a stage_* call just wrote."""
    store, table = args[0], args[1]
    staged = store._staged.get(table)
    nbytes = dir_bytes(staged["dirs"][-1]) if staged and staged["dirs"] else 0
    return {"table": table, "bytes": nbytes}


def store_metrics(spans: list[dict]) -> dict[str, float]:
    """store.write_s.<table>, store.bytes_written.<table>, commit/preview p50."""
    import statistics

    out: dict[str, float] = {}
    for table in ("frontier", "seen", "bloom", "fetched", "order"):
        st = [s for s in spans if s.get("table") == table]
        out[f"store.write_s.{table}"] = sum(s["end"] - s["start"] for s in st)
        out[f"store.bytes_written.{table}"] = float(sum(s["bytes"] for s in st))
    for op in ("commit", "preview"):
        d = [s["end"] - s["start"] for s in spans if s["name"] == f"store.{op}"]
        out[f"store.{op}_s"] = statistics.median(d) if d else 0.0
    return out


def public_store_calls(spans: list[dict], by_id: dict[int, dict]) -> int:
    """Store calls not made from inside another store call."""
    n = 0
    for s in spans:
        if not s["name"].startswith("store."):
            continue
        parent = by_id.get(s["parent"]) if s["parent"] is not None else None
        if parent is None or not parent["name"].startswith("store."):
            n += 1
    return n


# -- Spark event log -------------------------------------------------------------

def read_event_log(ev_dir: str) -> list[dict]:
    """Task-end and job-start events of every (uncompressed) log in ev_dir."""
    kinds = ('"Event":"SparkListenerTaskEnd"', '"Event":"SparkListenerJobStart"')
    events = []
    for name in sorted(os.listdir(ev_dir)):
        with open(os.path.join(ev_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.startswith(kinds, 1))
    return events


def spark_metrics(events: list[dict], t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Substrate totals over the tasks launched in [t0_ms, t1_ms]."""
    task_ms = gc_ms = sw = sr = spill = 0
    n_tasks = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        if not t0_ms <= info["Launch Time"] <= t1_ms:
            continue
        n_tasks += 1
        task_ms += info["Finish Time"] - info["Launch Time"]
        gc_ms += m.get("JVM GC Time", 0)
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and t0_ms <= e["Submission Time"] <= t1_ms]
    wall_s = max(1e-9, (t1_ms - t0_ms) / 1000.0)
    return {
        "spark.task_s": task_ms / 1000.0,
        "spark.busy_share": task_ms / 1000.0 / (wall_s * cores),
        "spark.shuffle_write_bytes": float(sw),
        "spark.shuffle_read_bytes": float(sr),
        "spark.spill_bytes": float(spill),
        "spark.gc_s": gc_ms / 1000.0,
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(n_tasks),
    }


def jobs_between(events: list[dict], t0_ms: float, t1_ms: float) -> int:
    return sum(1 for e in events if e["Event"] == "SparkListenerJobStart"
               and t0_ms <= e["Submission Time"] <= t1_ms)


def task_skew(events: list[dict], description: str) -> float:
    """max ÷ median task time in the costliest stage of the described jobs."""
    import statistics

    stages: set[int] = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and (
            (e.get("Properties") or {}).get("spark.job.description") == description
        ):
            stages.update(e["Stage IDs"])
    per_stage: dict[int, list[float]] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            info = e["Task Info"]
            per_stage.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
    if not per_stage:
        return 0.0
    worst = max(per_stage.values(), key=sum)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else 1.0
