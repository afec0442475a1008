"""Frontier enqueue: canonicalize → hash → priority → intra-batch dedup.

SURVEY.md §2 O2 (canonicalization) + O3 (xxhash64 builtin — JVM-side, zero
Python) + the order-free intra-batch dedup rule (same canonical URL
discovered twice in one epoch → min depth wins), mirroring
``ReferenceSimulator.enqueue_batch``.

Python-boundary budget: exactly ONE Arrow UDF per candidate batch (the
canonicalizer — already-canonical inputs short-circuit through a single
compiled-regex gate, see ``functions.urlnorm._canonicalize_row``; the
rest pay a per-row canonicalizer that skips its O(len) passes when
"%" / "/." are absent). Splitting fast/slow at the PLAN
level (filter-pair + union) was measured 3x slower end-to-end: every
downstream consumer of the candidates duplicates the two-branch subtree
and per-epoch plan compilation dwarfs the saved Python. Host extraction
is pure Catalyst: for a canonical URL the authority is the text between
the FIRST '://' and the next '/' (instr, not substring_index(-1): a path
may itself contain '://').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec
from monocator_spark.functions.urlnorm import canonicalize_udf

FRONTIER_COLS = ["url_norm", "url_hash", "host", "priority", "depth", "retries"]
# frontier rows carry their (static) per-host quota from enqueue-time gating
FRONTIER_COLS_Q = [*FRONTIER_COLS, "quota"]


def prepare_candidates(raw: DataFrame) -> DataFrame:
    """raw(url string, depth int) → frontier-shaped candidate rows.

    The canonicalizer is the only Python in this path (Arrow batches,
    vectorized fast path inside); hash, host and priority are Catalyst
    expressions, so the whole stage after the UDF is whole-stage-codegen
    eligible.
    """
    return (
        raw.withColumn("url_norm", canonicalize_udf(F.col("url")))
        .where(F.col("url_norm").isNotNull())
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn(
            "host",
            F.expr(
                "substring_index(substr(url_norm,"
                " instr(url_norm, '://') + 3), '/', 1)"
            ),
        )
        .withColumn("priority", F.expr(spec.priority_sql("url_norm")))
        .withColumn("retries", F.lit(0))
        .select(*FRONTIER_COLS)
    )


def dedup_within_batch(cands: DataFrame) -> DataFrame:
    """Same canonical URL twice in one discovery batch → keep min depth.

    All other columns are pure functions of url_norm, so grouping on the
    hash+norm keeps them intact without nondeterministic ``first()``.
    """
    return cands.groupBy("url_hash", "url_norm", "host", "priority").agg(
        F.min("depth").alias("depth"), F.min("retries").alias("retries")
    ).select(*FRONTIER_COLS)
