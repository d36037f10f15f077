"""Table loaders + adapters.

- testdata parquet loaders (TESTDATA.md layout)
- documents -> input_hint pages adapter (deterministic), so the flagship
  pipeline can run over the driver-provided tables
- Iceberg-or-parquet sink abstraction lives in operators/output.py
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def load(spark: SparkSession, sf_dir: str, name: str,
         spread: bool = True) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if spread and _should_spread(spark, df.inputFiles()):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _should_spread(spark: SparkSession, files: list[str]) -> bool:
    """Whether a round-robin repartition right after the scan of
    ``files`` (DataFrame.inputFiles() URIs) pays for itself, decided
    from os.stat alone: a df.rdd.getNumPartitions() probe converts the
    plan to an RDD through py4j (~0.15-0.2 s per call) and, under AQE,
    executes the plan's query stages. Three conditions:

    - the scan reads files at all (an in-memory source has none) and
      they are local (a remote table is not stat-ed);
    - fewer data files than cores (a single file is the testdata shape;
      a real at-scale table has >= one file per split of parallelism),
      AND
    - the files are at least maxPartitionBytes/8 on disk — below that,
      the whole table fits comfortably inside a fraction of ONE scan
      split, and the extra AQE shuffle stage's fixed latency (~0.4 s
      measured: stage materialization + task launches) exceeds any
      parallelism gain. Both bounds derive from session config, not
      from a bench constant."""
    urls = [urlparse(f) for f in files]
    if not urls or any(u.scheme not in ("", "file") for u in urls):
        return False
    if len(urls) >= spark.sparkContext.defaultParallelism:
        return False
    total = sum(os.path.getsize(unquote(u.path)) for u in urls)
    return total >= _max_partition_bytes(spark) // 8


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes",
                             "134217728")).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    if raw and raw[-1] in mult:
        return int(raw[:-1]) * mult[raw[-1]]
    return int(raw)


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> pages(url, warc_ts,
    html, text, lang) in the BASELINE.json input_hint shape, derived
    deterministically (url from source/doc_id, warc_ts from doc_id)."""
    # spread=False: run_filter's ingest starts with a url-only dup-key
    # aggregate (column-pruned scan, no text movement) and the pipeline
    # fans out AFTER it (pipeline.py's own repartition guard). A spread
    # here would shuffle the text column once more before that
    # aggregate for nothing (measured: pipeline leg 3.5 -> 4.3 s).
    docs = load(spark, sf_dir, "documents", spread=False)
    return docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
