#!/usr/bin/env python
"""N-vs-4N scaling evidence (BASELINE.json north_rule, sandbox protocol).

A real multi-executor cluster is unavailable here, so per the driver
instruction the two-cluster-size criterion is evidenced by running the
IDENTICAL crawl job on the IDENTICAL world at two parallelism levels
(local[N] and local[4N]), each in a fresh JVM via subprocess, then:

  * asserting the crawl order + URL-seen checksums are byte-identical
    (determinism is part of the gate), and
  * reporting throughput at both + efficiency = Thr_4N / (4 · Thr_N),
    target ≥ 0.8, into BENCH/results_scaling.json + BENCH/BASELINE.md.

Reps at the two levels run interleaved (small, large, small, large, ...);
the headline efficiency is the MEDIAN over per-rep pairs, because only a
temporally-adjacent pair sees the same shared-host window (see
_pair_efficiencies).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _pick_best(reps: list[dict]) -> dict:
    """Best of --reps runs at ONE level — used only for the per-level detail
    block (peak throughput, epoch decomposition). The gate's efficiency is
    NOT computed from two levels' bests: those can come from different host
    windows, and the shared hypervisor drifts ±20% between windows, so a
    cross-window ratio measures the neighbors, not the engine (observed:
    8-core declining monotonically across reps while 2-core peaked on the
    last rep). All reps' numbers are kept in the result for transparency."""
    best = min(reps, key=lambda r: r["elapsed_sec"])
    assert all(
        r["order_checksum"] == best["order_checksum"]
        and r["seen_checksum"] == best["seen_checksum"]
        for r in reps
    ), "nondeterministic output across repetitions"
    best["all_reps_elapsed_sec"] = [r["elapsed_sec"] for r in reps]
    best["all_reps_urls_per_sec"] = [r["urls_per_sec"] for r in reps]
    return best


def _pair_efficiencies(
    small_reps: list[dict], large_reps: list[dict], ratio: float
) -> list[float]:
    """Per-rep pair efficiency: rep i's small and large runs are temporally
    adjacent (interleaved small_i, large_i, small_{i+1}, ...), so the ratio
    within a pair is the controlled A/B the interleaving was built for —
    both runs see (almost) the same host window. The headline efficiency is
    the MEDIAN of the pairs: robust to one rep catching a drift edge, and
    not cherry-picked the way best-of-pairs would be."""
    return [
        round(lg["urls_per_sec"] / (ratio * sm["urls_per_sec"]), 3)
        for sm, lg in zip(small_reps, large_reps)
    ]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else round((s[mid - 1] + s[mid]) / 2, 3)


def run_levels(args: argparse.Namespace) -> tuple[list, list, list]:
    """Run both levels' reps INTERLEAVED (small, large, small, large, ...)
    so slow drift in the shared host's capacity hits both levels equally
    instead of whichever level's block caught the quiet window — the
    efficiency ratio is what the gate reads, so drift between the two
    blocks is the one noise source best-of-N can't wash out. Returns
    (small_reps, large_reps, probes): probes holds the pre-pair disk-probe
    MB/s per rep (None when --disk-gate is unset).

    Within-pair order COUNTERBALANCES across reps (small-first on even
    reps, large-first on odd): under a monotone capacity ramp the
    second-run level always sees different capacity than the first, which
    biases every pair the same direction if the order is fixed (measured:
    a downward ramp walked 8-core reps 28.5k → 25.5k → 22.9k while
    2-core barely moved, biasing every small-first pair low). Alternating
    the order makes the ramp bias cancel in the median."""
    small_reps, large_reps, probes = [], [], []
    for i in range(args.reps):
        # `is not None`, not truthiness: --disk-gate 0 means "probe every
        # pair but never exclude", not "don't probe"
        probes.append(_disk_probe() if args.disk_gate is not None else None)
        if probes[-1] is not None:
            print(f"--- pre-pair disk probe: {probes[-1]} MB/s "
                  f"(gate {args.disk_gate})", flush=True)
        order = (
            [(small_reps, args.n_small), (large_reps, args.n_large)]
            if i % 2 == 0
            else [(large_reps, args.n_large), (small_reps, args.n_small)]
        )
        for acc, n in order:
            acc.append(run_level(args, n))
    return small_reps, large_reps, probes


def _disk_probe(dur: float = 8.0) -> float:
    """Single-proc disk probe (same kernel as probe_machine.disk_work) run
    immediately before a pair — the round-5 pre-registered window-quality
    gate (BENCH/PREREG_r05_window_gate.md): pairs taken in a contended
    window are filed but excluded from the gated headline median."""
    from scripts.probe_machine import disk_work

    # the rate uses disk_work's own timer over its write/read loop, so the
    # 32 MB random-chunk generation before the loop is not counted
    mb, elapsed = disk_work((dur, 0))
    return round(mb / elapsed, 1)


def run_level(args: argparse.Namespace, cores: int) -> dict:
    """Run one parallelism level, CPU-pinned to exactly ``cores`` cores.

    local[N] alone under-counts: Python UDF workers, GC and IO threads run
    on top of the N task slots, so an unpinned local[4] consumes ~2x its
    nominal cores and inflates the small-N throughput. ``taskset`` gives
    each level a hard core budget — the same isolation a real cluster's
    executor cgroups provide, which is what the N-vs-4N criterion models.
    """
    prefix = "crawl_lc" if getattr(args, "local_cluster", False) else "crawl_c"
    out = REPO / "BENCH" / f"{prefix}{cores}.json"
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, str(REPO / "scripts" / "bench_crawl.py"),
        "--world", args.world, "--cores", str(cores),
        "--wave-size", str(args.wave_size), "--epochs", str(args.epochs),
        "--per-host-quota", str(args.per_host_quota), "--salt", str(args.salt),
        "--warmup", "--out", str(out),
    ]
    import os

    env = dict(os.environ)
    # Per-CORE-constant heap (default 6 GB/core, the value every prior
    # 8-core artifact ran at under the old fixed-48g setting): a real
    # N→4N-executor cluster holds per-executor memory constant, so total
    # memory grows 4× with the cores. A heap FIXED across levels models the
    # wrong cluster (one whose memory doesn't grow with executor count) and
    # hands the small level a 4× per-core memory subsidy — at 2 cores a
    # 48 GB heap caches the whole 16 GB payload corpus while the 8-core
    # level spills, so the measured "inefficiency" is the subsidy, not the
    # engine. AQE off: its extra query-stage jobs cost more driver latency
    # than they save on this fixed-partitioning job.
    if getattr(args, "local_cluster", False):
        # Multi-JVM rung: N separate 1-core executor JVMs (workers sized
        # mem_per_core + 1 GB overhead each, executor heap = mem_per_core),
        # real serialized shuffle fetch over loopback. Per-executor memory
        # is constant across levels — total memory grows with executor
        # count, exactly like the real N→4N cluster the criterion names.
        # The driver JVM only coordinates here, so it gets a flat 6 GB.
        env.setdefault(
            "MONO_SPARK_MASTER",
            f"local-cluster[{{cores}},1,{(args.mem_per_core + 1) * 1024}]",
        )
        env.setdefault("SPARK_DRIVER_MEM", "6g")
        env.setdefault(
            "MONO_SPARK_CONF",
            "spark.sql.adaptive.enabled=false"
            f";spark.executor.memory={args.mem_per_core}g"
            f";spark.executorEnv.PYTHONPATH={REPO}",
        )
    else:
        env.setdefault("SPARK_DRIVER_MEM", f"{args.mem_per_core * cores}g")
        env.setdefault("MONO_SPARK_CONF", "spark.sql.adaptive.enabled=false")
    print(f"--- running cores={cores}: {' '.join(cmd)}", flush=True)
    subprocess.run(cmd, check=True, env=env)
    with open(out) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", default="/tmp/mono_bench_world")
    ap.add_argument("--images", type=int, default=1_000_000)
    ap.add_argument("--hosts", type=int, default=50_000)
    ap.add_argument("--seeds", type=int, default=1_500_000)
    ap.add_argument("--dup-frac", type=float, default=0.2)
    ap.add_argument("--n-small", type=int, default=8)
    ap.add_argument("--n-large", type=int, default=32)
    ap.add_argument("--wave-size", type=int, default=150_000)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--per-host-quota", type=int, default=8)
    ap.add_argument("--salt", type=int, default=16)
    ap.add_argument("--reps", type=int, default=2,
                    help="repetitions per level; best run is reported")
    ap.add_argument("--out", default=None,
                    help="summary JSON path (default BENCH/results_scaling.json)")
    ap.add_argument("--no-bucket", action="store_true",
                    help="use the plain parquet corpus (broadcast fetch join)")
    ap.add_argument("--tiny", action="store_true",
                    help="32x32-image world (scheduler-bound regime)")
    ap.add_argument("--mem-per-core", type=int, default=6,
                    help="JVM heap GB per core (constant across levels, like "
                         "a real cluster's per-executor memory)")
    ap.add_argument("--local-cluster", action="store_true",
                    help="run each level on local-cluster[N,1,mem] (separate "
                         "executor JVMs + real shuffle fetch) instead of local[N]")
    ap.add_argument("--disk-gate", type=float, default=None,
                    help="pre-registered window gate (MB/s): run a 1-proc "
                         "disk probe before each pair; pairs below the gate "
                         "are filed but excluded from the gated median "
                         "(BENCH/PREREG_r05_window_gate.md)")
    args = ap.parse_args()

    from scripts.gen_world import ensure_world

    meta = ensure_world(
        args.world,
        {
            "n_images": args.images,
            "n_hosts": args.hosts,
            "n_seeds": args.seeds,
            "dup_frac": args.dup_frac,
            "bucket_corpus": not args.no_bucket,
            "tiny_images": args.tiny,
        },
    )
    print(f"world ready: {meta}", flush=True)

    small_reps, large_reps, probes = run_levels(args)
    ratio = args.n_large / args.n_small
    pair_effs = _pair_efficiencies(small_reps, large_reps, ratio)
    eff = _median(pair_effs)
    qualifies = [
        (p is not None and p >= args.disk_gate)
        if args.disk_gate is not None
        else True
        for p in probes
    ]
    gated_effs = [e for e, q in zip(pair_effs, qualifies) if q]
    eff_gated = _median(gated_effs) if gated_effs else None
    small, large = _pick_best(small_reps), _pick_best(large_reps)

    det_ok = (
        small["order_checksum"] == large["order_checksum"]
        and small["seen_checksum"] == large["seen_checksum"]
        and small["seen_count"] == large["seen_count"]
    )
    summary = {
        "metric": "urls_scheduled_plus_fetched_per_sec",
        "deterministic_across_levels": det_ok,
        "n_small": args.n_small,
        "n_large": args.n_large,
        "thr_small": small["urls_per_sec"],
        "thr_large": large["urls_per_sec"],
        # headline: median of per-rep (temporally adjacent) pair ratios —
        # see _pair_efficiencies for why cross-rep bests are not compared
        "scaling_efficiency": eff,
        "pair_efficiencies": pair_effs,
        "disk_gate_mb_s": args.disk_gate,
        "pair_probe_mb_s": probes,
        "pair_qualifies": qualifies,
        "scaling_efficiency_gated": eff_gated,
        "window_blocked": bool(args.disk_gate is not None and not gated_effs),
        "efficiency_cross_rep_best": round(
            large["urls_per_sec"] / (ratio * small["urls_per_sec"]), 3
        ),
        "target": 0.8,
        "pass": bool(det_ok and eff >= 0.8),
        # the pre-registered headline under --disk-gate is the GATED median
        # (BENCH/PREREG_r05_window_gate.md); None when no gate was set
        "pass_gated": (
            bool(det_ok and eff_gated is not None and eff_gated >= 0.8)
            if args.disk_gate is not None
            else None
        ),
        "small": small,
        "large": large,
    }
    (REPO / "BENCH").mkdir(exist_ok=True)
    out_path = Path(args.out) if args.out else REPO / "BENCH" / "results_scaling.json"
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps({k: summary[k] for k in (
        "deterministic_across_levels", "thr_small", "thr_large",
        "scaling_efficiency", "pair_efficiencies",
        "scaling_efficiency_gated", "pair_probe_mb_s", "pass", "pass_gated")}))


if __name__ == "__main__":
    main()
