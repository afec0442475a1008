"""Scan modules — TLS, DNS and SMTP probes behind one cache rule.

The reference's VisitRequest carries optional per-visit modules, each
behind its own ``enabled`` flag (reference ``src/TODO.MD:57-59,69-76``),
and scans are cached by key (``fullScanCache.find(ip)``, TODO.MD:41). The
engine runs every module through ONE cache rule, ``scan_rows``:

  * take the wave's distinct keys;
  * anti-join them against the module's persistent cache table and probe
    only the never-seen keys;
  * every wave host then equi-joins (cache ∪ fresh probes), so two hosts
    on one key share a single probe; ``cache_hit`` = "key was cached
    before this epoch" (order-free).

The modules differ only in data — one row each in ``SCAN_MODULES``: the
``CrawlConfig`` flag, the cache key, the probe function, the cache and
output tables and the output columns.

  * TLS (O12) — keyed by ``ip``. Fans out over the enabled protocol
    versions and re-aggregates into the reference's central result type
    ``Map<TlsProtocolVersion, SingleVersionScan>`` + ``connectOK``
    (TODO.MD:27-28, toggles TODO.MD:70-75): ``explode`` → per-(ip,
    version) outcome → ``map_from_entries(sort_array(collect_list(
    struct(...))))`` + ``bool_or``, plus the certificate chain.
  * DNS (O8) — keyed by ``host``. Resolves each configured (prefix,
    rrtype) pair (``dns.prefixes`` / ``dns.rrtypes``, TODO.MD:58-59).
  * SMTP — keyed by ``ip``. A banner grab (``smtp.enabled``, TODO.MD:76).

The host → IP resolve every module shares is the deterministic
hash-derived mapping pinned in ``spec.ip_of_host`` [canon] (the engine
makes no network calls); the IP space is smaller than the host space, so
co-hosted hosts genuinely share IPs.

Everything is pure Catalyst — no UDFs: xxhash64/pmod reproduce the shared
spec functions bit-for-bit (the pure-Python simulator recomputes them via
``spec.tls_versions_of_ip`` / ``spec.tls_scan_of`` / ``spec.dns_records_of``
/ ``spec.smtp_probe_of``).

Scale shape: the probe side is bounded by |distinct wave keys| ≤
wave_size; a cache table is O(keys seen) and is touched only by (a) one
anti-join probed by the bounded wave side and (b) one equi-join built from
the bounded side (``hints.wave_side``) — a cache is never shuffled
wholesale. At 10^10-frontier scale the caches would be bucketed by key
(same layout as the corpus table) so both joins prune to the wave's
buckets.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec
from monocator_spark.operators.hints import wave_side

# columns of the persistent scan_cache table (state) and per-visit tls table
CACHE_COLS = ["ip", "scan", "connect_ok", "n_versions", "certificates"]
TLS_COLS = [
    "host", "ip", "scan", "connect_ok", "certificates", "cache_hit", "epoch"
]
# DNS fan-out (O8 completion): per-host record sets + per-host cache table
DNS_CACHE_COLS = ["host", "records", "n_records"]
DNS_COLS = ["host", "records", "n_records", "cache_hit", "epoch"]
# SMTP module: per-IP banner grab + per-IP cache table (O13 pattern)
SMTP_CACHE_COLS = ["ip", "port", "connect_ok", "banner"]
SMTP_COLS = ["host", "ip", "port", "connect_ok", "banner", "cache_hit", "epoch"]


def ip_col(host_col: str, n_hosts: int) -> F.Column:
    """O8: deterministic DNS resolve — pmod(xxhash64('ip|'||host), n_ips).

    Matches ``spec.ip_of_host`` exactly (Python %% on a signed hash == pmod).
    """
    return F.pmod(
        F.xxhash64(F.concat(F.lit(spec.IP_PREFIX), F.col(host_col))),
        F.lit(spec.n_ips_for(n_hosts)),
    )


def resolve_hosts(hosts: DataFrame, n_hosts: int, host_col: str = "host") -> DataFrame:
    """Attach the resolved ``ip`` column to a host DataFrame."""
    return hosts.withColumn("ip", ip_col(host_col, n_hosts))


def tls_scan_ips(ips: DataFrame) -> DataFrame:
    """O12 fan-out: ips(ip) → (ip, scan map, connect_ok, n_versions).

    Every IP yields exactly one row — an IP with zero enabled versions gets
    an empty map and connect_ok = false (it still must enter the cache, or
    it would be rescanned every epoch).
    """
    ver = F.explode(F.array(*[F.lit(v) for v in spec.TLS_VERSIONS])).alias("version")
    fanned = ips.select("ip", ver)
    cfg_h = F.pmod(
        F.xxhash64(
            F.concat(F.lit(spec.TLS_CFG_PREFIX), F.col("ip").cast("string"),
                     F.lit("|"), F.col("version"))
        ),
        F.lit(2),
    )
    hv = F.pmod(
        F.xxhash64(
            F.concat(F.lit(spec.TLS_SCAN_PREFIX), F.col("ip").cast("string"),
                     F.lit("|"), F.col("version"))
        ),
        F.lit(20),
    )
    scanned = (
        fanned.where(cfg_h == 0)  # per-version enabled toggle (TODO.MD:70-75)
        .withColumn("hv", hv)
        .withColumn("connect_ok", F.col("hv") != 0)
        .withColumn(
            "cipher",
            F.concat(F.col("version"), F.lit("-c"), (F.col("hv") % 4).cast("string")),
        )
        .groupBy("ip")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("version"),
                            F.struct("connect_ok", "cipher").alias("result"),
                        )
                    )
                )
            ).alias("scan"),
            F.bool_or("connect_ok").alias("connect_ok"),
            F.count(F.lit(1)).cast("int").alias("n_versions"),
        )
    )
    empty_map = F.expr(
        "map_from_entries(cast(array() as"
        " array<struct<version:string,result:struct<connect_ok:boolean,cipher:string>>>))"
    )
    return (
        ips.join(scanned, "ip", "left")
        .withColumn("scan", F.coalesce("scan", empty_map))
        .withColumn("connect_ok", F.coalesce("connect_ok", F.lit(False)))
        .withColumn("n_versions", F.coalesce("n_versions", F.lit(0)))
        .withColumn("certificates", cert_chain_col())
        .select(*CACHE_COLS)
    )


def cert_chain_col(ip_col_name: str = "ip", ok_col: str = "connect_ok") -> F.Column:
    """The certificate-chain array-of-struct column (O15 fringe).

    Reference: ``saveCertificates(Optional<List<Certificate>> chain)``
    (/root/reference/src/TODO.MD:15-17,50). Pure Catalyst ``transform`` over
    ``sequence`` — NULL when nothing connected (the Optional<> analogue),
    else element k links to k+1 as its issuer, last element is a root CA.
    Bit-matches ``spec.cert_chain_of``.
    """
    ip_s = F.col(ip_col_name).cast("string")
    n = (
        1
        + F.pmod(
            F.xxhash64(F.concat(F.lit(spec.CERT_PREFIX), F.lit("n|"), ip_s)),
            F.lit(spec.CERT_MAX_DEPTH),
        )
    ).cast("int")

    def elem(k: F.Column) -> F.Column:
        h = F.xxhash64(
            F.concat(
                F.lit(spec.CERT_PREFIX), ip_s, F.lit("|"), k.cast("string")
            )
        )
        issuer = F.when(
            k + 1 < n,
            F.concat(
                F.lit("CN=ip-"), ip_s, F.lit("-l"), (k + 1).cast("string")
            ),
        ).otherwise(
            F.concat(F.lit("CN=root-"), F.pmod(h, F.lit(16)).cast("string"))
        )
        return F.struct(
            F.concat(
                F.lit("CN=ip-"), ip_s, F.lit("-l"), k.cast("string")
            ).alias("subject"),
            issuer.alias("issuer"),
            (
                F.lit(spec.CERT_NOT_AFTER_BASE)
                + F.pmod(h, F.lit(100000)) * F.lit(86400)
            ).alias("not_after"),
        )

    return F.when(
        F.col(ok_col), F.transform(F.sequence(F.lit(0), n - 1), elem)
    )


# -- O8 completion: DNS prefixes/rrtypes fan-out --------------------------------


def dns_resolve_records(hosts: DataFrame) -> DataFrame:
    """hosts(host) → (host, records array<struct>, n_records).

    Reference: ``dns.prefixes`` / ``dns.rrtypes``
    (/root/reference/src/TODO.MD:58-59) — one visit resolves each configured
    (prefix, rrtype) pair. Pure Catalyst: explode the (prefix × rrtype)
    grid, derive each pair's outcome from xxhash64 (a pair can NXDOMAIN —
    ``h % 4 == 0`` — so record sets genuinely vary), then ``sort_array(
    collect_list(...))`` re-assembles the per-host record set in
    (prefix, rrtype) order, bit-matching ``spec.dns_records_of``.

    Scale shape: the fan-out is |hosts| × |prefixes×rrtypes| (a constant
    ≤ 6 here), collapsed by one partial-aggregated groupBy on host — linear
    in the wave's distinct hosts, nothing touches the frontier.
    """
    pair = F.explode(
        F.array(
            *[
                F.struct(F.lit(p).alias("prefix"), F.lit(r).alias("rrtype"))
                for p in spec.DNS_PREFIXES
                for r in spec.DNS_RRTYPES
            ]
        )
    ).alias("pair")
    fanned = hosts.select("host", pair).select(
        "host", F.col("pair.prefix").alias("prefix"),
        F.col("pair.rrtype").alias("rrtype"),
    )
    h = F.xxhash64(
        F.concat(
            F.lit(spec.DNS_PREFIX), F.col("prefix"), F.lit("|"),
            F.col("rrtype"), F.lit("|"), F.col("host"),
        )
    )
    resolved = (
        fanned.withColumn("h", h)
        .where(F.pmod("h", F.lit(4)) != 0)  # NXDOMAIN for this pair
        .select(
            "host",
            F.struct(
                "prefix",
                "rrtype",
                F.concat(
                    F.lower("rrtype"), F.lit("-"),
                    F.pmod("h", F.lit(65536)).cast("string"),
                ).alias("value"),
                (F.lit(60) + F.pmod("h", F.lit(4)) * F.lit(300)).alias("ttl"),
            ).alias("rec"),
        )
        .groupBy("host")
        .agg(
            F.sort_array(F.collect_list("rec")).alias("records"),
            F.count(F.lit(1)).cast("int").alias("n_records"),
        )
    )
    empty = F.expr(
        "cast(array() as array<struct<prefix:string,rrtype:string,"
        "value:string,ttl:bigint>>)"
    )
    return (
        hosts.select("host")
        .join(resolved, "host", "left")
        .withColumn("records", F.coalesce("records", empty))
        .withColumn("n_records", F.coalesce("n_records", F.lit(0)))
        .select(*DNS_CACHE_COLS)
    )


# -- SMTP module (the last VisitRequest module) ----------------------------------


def smtp_probe_ips(ips: DataFrame) -> DataFrame:
    """ips(ip) → (ip, port, connect_ok, banner) — deterministic banner grab.

    Reference: ``smtp.enabled`` (/root/reference/src/TODO.MD:76); semantics
    beyond the flag are stripped, so the canonical banner-grab shape [canon]
    is pinned by ``spec.smtp_probe_of``. Pure Catalyst, one row per IP.
    """
    h = F.xxhash64(
        F.concat(F.lit(spec.SMTP_PREFIX), F.col("ip").cast("string"))
    )
    ok = F.pmod(h, F.lit(5)) != 0
    return ips.select(
        "ip",
        F.lit(spec.SMTP_PORT).alias("port"),
        ok.alias("connect_ok"),
        F.when(
            ok,
            F.concat(
                F.lit("220 mx-"), F.pmod(h, F.lit(1024)).cast("string"),
                F.lit(".example ESMTP"),
            ),
        ).alias("banner"),
    )


# -- the one cache rule, and the table of modules that use it --------------------


class ScanModule(NamedTuple):
    flag: str  # CrawlConfig field that enables the module
    key: str  # cache key column: "ip" or "host"
    probe: Callable[[DataFrame], DataFrame]  # keys(key) → cache rows
    cache_table: str  # state: every key probed so far
    out_table: str  # per-visit rows
    out_cols: list[str]


SCAN_MODULES = (
    ScanModule("tls_scan", "ip", tls_scan_ips, "scan_cache", "tls", TLS_COLS),
    ScanModule("dns_scan", "host", dns_resolve_records, "dns_cache", "dns", DNS_COLS),
    ScanModule("smtp_scan", "ip", smtp_probe_ips, "smtp_cache", "smtp", SMTP_COLS),
)


def scan_rows(
    module: ScanModule, wave_hosts: DataFrame, cache: DataFrame | None,
    epoch: int, cfg: spec.CrawlConfig,
) -> tuple[DataFrame, DataFrame]:
    """(wave_hosts(host, ip), cache) → (out rows, fresh cache rows).

    Only keys absent from ``cache`` are probed; every wave host joins
    (cache ∪ fresh). ``cache_hit`` = "key was cached before this epoch" —
    order-free, so two co-hosted hosts new in the same wave both count as
    misses but still share the single fresh probe. The wave-key side of the cache join broadcasts only up
    to WAVE_BROADCAST_MAX_ROWS (operators/hints.wave_side): a full-scale
    wave's distinct-key set can be 10^7–10^8 rows, which must take the
    shuffle join against the cache.
    """
    key = module.key
    keys = wave_hosts.select(key).distinct()
    if cache is None:
        fresh = module.probe(keys)
    else:
        fresh = module.probe(keys.join(cache.select(key), key, "left_anti"))
    results = fresh.withColumn("cache_hit", F.lit(False))
    if cache is not None:
        cached = cache.join(wave_side(keys, cfg), key, "inner").select(*fresh.columns)
        results = cached.withColumn("cache_hit", F.lit(True)).unionByName(results)
    rows = (
        wave_hosts.join(results, key, "inner")
        .withColumn("epoch", F.lit(epoch))
        .select(*module.out_cols)
    )
    return rows, fresh
