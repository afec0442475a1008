"""Join-side hints shared by the epoch pipeline's wave-bounded joins.

Several epoch joins build their hash side from a WAVE-BOUNDED key set
(≤ cfg.wave_size rows): the next-frontier anti-join and the "rejoin"-mode
payload re-join (``_payload_rows``) in plans/epoch.py, the fetch hit/miss
split (operators/fetch.py), the scan-cache probe (operators/scan.py
``scan_rows``), and the change-detection history prune and prior join
(operators/change.py). At bench scale those sides are a few MB of
longs and a driver broadcast is the right plan; at 10^10-frontier scale an
epoch wave is 10^8–10^9 keys — past Spark's 8 GB broadcast ceiling and the
driver's memory — so the broadcast must be conditional, mirroring the
existing ``BROADCAST_PROBE_MAX_BYTES`` switch in ``operators/dedup.py``.

``wave_side`` is that one switch: broadcast while the configured wave size
is at most ``WAVE_BROADCAST_MAX_ROWS``, plain (shuffle-join) side above it.
The choice is plan-only — both paths produce byte-identical output (pinned
by ``tests/test_wave_broadcast_paths.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec

# 32M longs ≈ 256 MB broadcast: bench-scale waves (1.8M keys ≈ 14 MB)
# broadcast, 10^8-row production waves take the shuffle join.
WAVE_BROADCAST_MAX_ROWS = 32_000_000


def wave_side(df: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """A wave-bounded join side: broadcast iff the configured wave size fits."""
    if cfg.wave_size <= WAVE_BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df
