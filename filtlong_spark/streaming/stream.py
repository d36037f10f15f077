"""Structured Streaming rendering of the scorer (SURVEY.md §2H note).

The reference is strictly batch (two passes over a static file), and the
global stages (z-score normalization over the WHOLE corpus, the keep-budget
prefix) are inherently batch — they need every record. What streams
cleanly is the per-document portion: langid gate -> scoring -> scrub ->
HARD thresholds (D1 evaluates on raw, pre-normalization metrics,
src/read.cpp:64-73, so it needs no global state).

Deployment shape at scale: this streaming stage does ingest-time gating
and scoring into a committed (Iceberg) staging table; the batch
normalize+budget job then runs over completed snapshots — exactly the
two-phase split the batch pipeline's checkpoint already implements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..operators import refset as refset_op
from ..operators import score as score_op


def score_stream(spark: SparkSession, pages_stream: DataFrame,
                 cfg: FilterConfig, ref_pages: DataFrame | None = None
                 ) -> DataFrame:
    """Streaming pages -> scored + hard-labeled records (append-mode safe:
    every operator here is stateless per row)."""
    cfg.validate()
    accepted_bc = refset_op.build_broadcast(spark, cfg, ref_pages)
    return score_op.score_and_scrub(pages_stream, cfg, accepted_bc)


def pages_stream_clf_gate(spark: SparkSession, source_dir: str,
                          vocab, threshold: float = 0.0,
                          weights: dict | None = None) -> DataFrame:
    """Streaming model-based quality gate: the classifier is stateless
    per row (one map-only Arrow feature pass + literal-folded linear
    combination), so it runs unchanged under Structured Streaming —
    ingest-time classifier gating into the staging table, the DCLM
    order rendered as a stream. Emits (url, <features>, clf_score,
    keep) in append mode; availableNow backfill == the batch operator
    (pytest-asserted)."""
    from ..operators import classifier as clf_op
    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string").parquet(source_dir))
    return clf_op.quality_classifier(pages, sorted(vocab),
                                     weights=weights,
                                     threshold=threshold, key="url")


def events_stream_rollup(spark: SparkSession, source_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup over a streaming events source —
    the Structured Streaming rendering of operators/events.windowed_rollup
    (late data beyond the watermark is dropped; availableNow backfill ==
    batch, asserted in tests)."""
    from ..operators import events as ev_op
    # watermarks require instant (TIMESTAMP) event time; the testdata's
    # naive timestamps are interpreted in the SESSION zone, so a non-UTC
    # session would silently shift every win_start_us relative to the
    # batch rollup / oracle — enforce instead of hoping (production event
    # streams carry instants to begin with)
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            "Error: events_stream_rollup requires "
            f"spark.sql.session.timeZone=UTC (got {tz!r}) — naive event "
            "timestamps would otherwise shift relative to the batch path")
    ev = spark.readStream.schema(ev_op.EVENTS_SCHEMA).parquet(source_dir)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (ev.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(ev_op.value_cents()).alias("value_cents"))
            .select(F.unix_micros(F.col("w.start")).alias("win_start_us"),
                    "event_type", "n_events", "value_cents"))


def events_stream_sessions(spark: SparkSession, source_dir: str,
                           gap_minutes: int = 30,
                           watermark: str = "2 hours") -> DataFrame:
    """Watermarked gap-based sessionization on a STREAM via the built-in
    session_window (merging windows closed ``gap`` after the last event)
    — the Structured Streaming rendering of operators/events.sessionize;
    per closed session the same (user, start, n_events, value_cents)
    the batch path yields (asserted in tests). Built-in stateful
    operator > hand-rolled applyInPandasWithState: watermark handling,
    state eviction, and AQE-free incremental planning come for free."""
    from ..operators import events as ev_op
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            "Error: events_stream_sessions requires "
            f"spark.sql.session.timeZone=UTC (got {tz!r})")
    ev = spark.readStream.schema(ev_op.EVENTS_SCHEMA).parquet(source_dir)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (ev.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", f"{gap_minutes} minutes")
                     .alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(ev_op.value_cents()).alias("value_cents"),
                 F.unix_micros(F.max("ts")).alias("end_us"))
            .select("user_id",
                    F.unix_micros(F.col("w.start")).alias("start_us"),
                    "end_us", "n_events", "value_cents"))


def pages_stream_dedup(spark: SparkSession, source_dir: str,
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming EXACT dedup by url: dropDuplicatesWithinWatermark — state
    holds one entry per url inside the watermark horizon and is EVICTED
    once the watermark passes it, so re-crawled pages within the horizon
    are emitted once while state stays bounded in a long-running stream
    (plain dropDuplicates(["url"]) would never evict — the event-time
    column isn't in the key — and grow one entry per url forever).
    Cross-horizon dedup stays a batch job over the committed table."""
    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string").parquet(source_dir))
    return (pages.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url"]))


def pages_stream_near_dedup(spark: SparkSession, source_dir: str,
                            watermark: str = "2 hours") -> DataFrame:
    """Streaming NEAR-dup dedup at ingest: the map-only simhash
    fingerprint (operators/dedup.simhash — one Arrow pass, zero
    shuffle, so it runs unchanged under Structured Streaming) keys a
    watermarked dropDuplicatesWithinWatermark. Re-crawled pages whose
    token multiset hashes to the same 60-bit fingerprint inside the
    horizon are emitted once; state is evicted at the watermark, so it
    stays bounded in a long-running stream. (Banded hamming-distance
    near-dup — d<=3 rather than d==0 — stays a batch job over the
    committed table: its self-join is not an incremental-stream
    operator.) Docs with no tokens pass through undeduplicated."""
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value
    from ..operators.dedup import simhash_of_texts

    def mapper(batches):
        import numpy as np
        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            nz, fp = simhash_of_texts(texts, core)
            col = np.zeros(len(texts), dtype=object)
            col[~nz] = None
            col[nz] = fp
            out = pdf.copy()
            out["simhash"] = col
            yield out

    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string").parquet(source_dir))
    fp_pages = pages.mapInPandas(
        mapper, schema="url string, warc_ts timestamp, html binary, "
                       "text string, lang string, simhash long")
    deduped = (fp_pages.filter(F.col("simhash").isNotNull())
               .withWatermark("warc_ts", watermark)
               .dropDuplicatesWithinWatermark(["simhash"])
               .drop("simhash"))
    return deduped.unionByName(
        fp_pages.filter(F.col("simhash").isNull()).drop("simhash"))


def run_available_now(spark: SparkSession, source_dir: str,
                      cfg: FilterConfig, sink_dir: str,
                      checkpoint_dir: str) -> None:
    """Drive a parquet-source stream to completion with availableNow —
    the batch-equivalent smoke path (also how a backfill would run)."""
    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string").parquet(source_dir))
    scored = score_stream(spark, pages, cfg)
    q = (scored.writeStream.format("parquet")
         .option("path", sink_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
