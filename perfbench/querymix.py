"""The query phase: a fixed slice of the ``queries`` REGISTRY over every module.

A full warm pass over the registry takes about a minute at sf0.01 on four
cores, more than one benchmark run may spend, so the mix takes one of the
cheaper queries from each of the six query modules, each timed to its
collected pandas result. The mix runs once, after the crawl has warmed the
session; the DuckDB oracle comparison runs afterwards, outside the timed
region.
"""

from __future__ import annotations

import time

MIX = {
    "relational": ("json_extract_agg",),
    "textops": ("token_count",),
    "similarity": ("embedding_cosine_topk",),
    "imaging": ("caption_image_filter",),
    "streamingops": ("session_gap_user",),
    "crawlops": ("urlnorm_grid",),
}
TABLES = ("documents", "embeddings", "events", "orders")


def run_mix(spark, table_dir: str) -> tuple[dict[str, float], dict]:
    """→ ({query: seconds}, {query: pandas result})."""
    from monocator_spark.queries import REGISTRY

    secs: dict[str, float] = {}
    results: dict = {}
    for names in MIX.values():
        for name in names:
            fn, _sql = REGISTRY[name]
            t0 = time.perf_counter()
            results[name] = fn(spark, table_dir).toPandas()
            secs[name] = time.perf_counter() - t0
    return secs, results


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_mismatches(table_dir: str, results: dict) -> list[str]:
    """Names whose Spark result differs from the DuckDB oracle."""
    import duckdb

    from monocator_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    bad = []
    for name, got in results.items():
        sql = REGISTRY[name][1]
        g, x = _canon(got), _canon(con.execute(sql).df())
        same = list(g.columns) == list(x.columns) and len(g) == len(x) and (
            g.equals(x) or g.astype(str).equals(x.astype(str))
        )
        if not same:
            bad.append(name)
    con.close()
    return bad


def module_seconds(secs: dict[str, float]) -> dict[str, float]:
    return {mod: sum(secs[n] for n in names) for mod, names in MIX.items()}
