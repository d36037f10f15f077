"""Ingest + validation (SURVEY.md §2A: A1-A4).

- A1 scan: the caller supplies any DataFrame in the input_hint shape
  (Iceberg/parquet table scan; Catalyst handles pushdown/pruning).
- A3 malformed records: null/empty text -> quarantine (the reference
  aborts on malformed FASTQ, src/main.cpp:80-87; at 10^12 docs we route
  to a quarantine sink instead of failing the job, keeping counts).
- A4 duplicate keys: duplicate url -> first occurrence wins, rest
  quarantined (reference aborts, src/main.cpp:113-117).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class IngestResult:
    valid: DataFrame       # deduped, non-empty text, with order_ts/order_url
    quarantine: DataFrame  # rows rejected, with a reason column


def ingest(pages: DataFrame, order_cols=("warc_ts", "url"),
           canonical_url_dedup: bool = False) -> IngestResult:
    """Validate + stamp the order key used by the order-preserving sink
    (A7). The order key is (warc_ts, url) — stable and data-derived, unlike
    monotonically_increasing_id which depends on partition layout.

    canonical_url_dedup=True dedups on the CANONICAL url
    (functions/weburl.py) instead of the raw string: http/https
    re-crawls, tracking-param and fragment variants of one page collapse
    to a single scored document (first occurrence by the order key wins,
    the rest are quarantined as duplicate_canonical_url).

    Duplicate handling is shaped for scale: a naive row_number window over
    the key would shuffle EVERY row (including the text column) and AQE
    then coalesces the CPU-heavy downstream Python stage onto a handful of
    tasks. Instead: (1) find duplicated keys with a key-only aggregate
    (shuffles just keys), (2) broadcast that small set into an anti join
    (clean rows) and a semi join (duplicated rows) — one broadcast
    exchange, which the two branches reuse — so clean rows flow
    scan->score with no shuffle, and only the duplicated subset pays the
    window. Assumes dups are the exception (url-keyed crawl snapshots); a
    dup-heavy source should be pre-bucketed by key instead.
    """
    if canonical_url_dedup:
        from ..functions.weburl import canonical_url_col
        key = canonical_url_col(F.col("url"))
        reason_dup = "duplicate_canonical_url"
    else:
        key = F.col("url")
        reason_dup = "duplicate_url"
    base = pages.withColumn("_key", key).withColumn(
        "_reason",
        F.when(F.col("text").isNull(), F.lit("null_text"))
         .when(F.length("text") == 0, F.lit("empty_text")))

    # A4: duplicated keys, key-only aggregate -> small -> broadcast
    dup_keys = F.broadcast(
        base.groupBy("_key").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1).select("_key"))
    clean = base.join(dup_keys, "_key", "left_anti")
    dups = base.join(dup_keys, "_key", "left_semi")
    w = Window.partitionBy("_key").orderBy(*[F.col(c) for c in order_cols])
    dups = (dups.withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "_reason",
                F.when(F.col("_reason").isNotNull(), F.col("_reason"))
                 .when(F.col("_rn") > 1, F.lit(reason_dup)))
            .drop("_rn"))
    base = clean.unionByName(dups).drop("_key")

    valid = base.filter(F.col("_reason").isNull()).drop("_reason")
    quarantine = (base.filter(F.col("_reason").isNotNull())
                  .withColumnRenamed("_reason", "reason"))
    return IngestResult(valid=valid, quarantine=quarantine)


def dup_check(pages: DataFrame) -> DataFrame:
    """A4 as a standalone data-quality gate: urls with count > 1."""
    return (pages.groupBy("url").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1))
