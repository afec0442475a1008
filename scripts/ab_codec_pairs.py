#!/usr/bin/env python
"""Counterbalanced lz4-vs-zstd shuffle-codec pairing (ADVICE r3, medium).

Round 3b adopted zstd on an n=2 A/B whose 16-core figure leaned on one
clean rep. This harness runs >=N back-to-back (codec A, codec B) pairs in
ONE window with the within-pair order alternating across pairs, and
reports EVERY rep plus the median pair ratio — no post-hoc exclusions.
The pre-registered rule is: the headline is the median of per-pair
zstd/lz4 throughput ratios, slow reps included; checksums must be
byte-identical across all runs or the whole session is void.

Same protocol as scripts/run_scaling.py legs: taskset-pinned, AQE off,
per-core-constant heap, fresh JVM per run via subprocess.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def run_leg(codec: str, cores: int, args, tag: str) -> dict:
    out = REPO / "BENCH" / "attempts" / f"codecpair_{tag}.json"
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = f"{args.mem_per_core * cores}g"
    env["MONO_SPARK_CONF"] = (
        "spark.sql.adaptive.enabled=false"
        f";spark.io.compression.codec={codec}"
    )
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, str(REPO / "scripts" / "bench_crawl.py"),
        "--world", args.world, "--cores", str(cores),
        "--wave-size", str(args.wave_size), "--epochs", str(args.epochs),
        "--per-host-quota", "8", "--salt", "16", "--warmup",
        "--out", str(out),
    ]
    print(f"--- codec={codec} cores={cores}: {' '.join(cmd)}", flush=True)
    subprocess.run(cmd, check=True, env=env)
    with open(out) as f:
        d = json.load(f)
    d["codec"] = codec
    return d


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else round((s[n // 2 - 1] + s[n // 2]) / 2, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", default="/tmp/mono_sched2_world")
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--wave-size", type=int, default=1_800_000)
    ap.add_argument("--epochs", type=int, default=2)
    ap.add_argument("--mem-per-core", type=int, default=6)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    reps = []
    for i in range(args.pairs):
        order = ["lz4", "zstd"] if i % 2 == 0 else ["zstd", "lz4"]
        pair = {}
        for codec in order:
            pair[codec] = run_leg(codec, args.cores, args, f"{codec}_c{args.cores}_p{i}")
        reps.append(pair)

    # determinism across codecs and pairs, or the session is void
    cks = {
        (r[c]["order_checksum"], r[c]["seen_checksum"])
        for r in reps
        for c in ("lz4", "zstd")
    }
    assert len(cks) == 1, f"nondeterministic outputs: {cks}"

    ratios = [
        round(r["zstd"]["urls_per_sec"] / r["lz4"]["urls_per_sec"], 3)
        for r in reps
    ]
    summary = {
        "protocol": (
            "counterbalanced back-to-back pairs, alternating within-pair "
            "order; headline = median pair ratio, ALL reps included "
            "(pre-registered, no stall exclusions)"
        ),
        "cores": args.cores,
        "pairs": args.pairs,
        "lz4_urls_per_sec": [r["lz4"]["urls_per_sec"] for r in reps],
        "zstd_urls_per_sec": [r["zstd"]["urls_per_sec"] for r in reps],
        "pair_ratios_zstd_over_lz4": ratios,
        "median_ratio": _median(ratios),
        "deterministic": True,
        "legs": reps,
    }
    out_path = (
        Path(args.out)
        if args.out
        else REPO / "BENCH" / f"results_codec_pairs_c{args.cores}_r4.json"
    )
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps({k: summary[k] for k in (
        "cores", "pair_ratios_zstd_over_lz4", "median_ratio")}))


if __name__ == "__main__":
    main()
