"""Reference-set construction (SURVEY.md §2B: B1-B4).

The reference builds an accepted 16-mer set from an assembly (every k-mer,
src/kmers.cpp:137-139) or short reads (count >= 4 via Bloom + count map,
src/kmers.cpp:142-166). Here: an EXACT distributed
``groupBy(token).count() >= required_copies`` — the Bloom/count-map staging
is a single-machine memory trick Spark's partial+final hash aggregate
replaces outright (strictly more faithful to the documented intent,
README.md:282-284).

Scale note (100 TB): the accepted set is collected and broadcast, exactly
like the reference holding the k-mer set in RAM — the set size is bounded
by the reference corpus vocabulary, not the input corpus. If it ever
outgrows executor memory, ``accepted_df`` + a broadcast join on exploded
tokens (see operators/score.py:quality_catalyst) is the spill path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig

TOKENIZE_EXPR = r"regexp_extract_all(text, '\\S+', 0)"


def tokens_df(pages: DataFrame) -> DataFrame:
    """Explode docs to tokens (B1 analog; JVM-side regexp, no Python)."""
    return pages.select(F.explode(F.expr(TOKENIZE_EXPR)).alias("token"))


def accepted_df(ref_pages: DataFrame, required_copies: int) -> DataFrame:
    """B2/B3: exact count-thresholded accepted set (partial+final hash agg;
    one shuffle on token)."""
    return (tokens_df(ref_pages)
            .groupBy("token").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= required_copies)
            .select("token", "cnt"))


def bigram_lm_counts(ref_pages: DataFrame, min_count: int = 1,
                     tables=None):
    """Bigram/unigram model for the LM quality mode's BROADCAST strategy:
    counting is fully distributed (operators/lm.lm_count_tables — shared
    with the join strategy), and only the min_count-PRUNED tables are
    collected into the broadcast payload, so the driver never holds more
    than the prune bound admits. ``tables``: pre-built LmCounts (from
    lm.plan_lm) to reuse instead of re-counting. For corpora whose pruned
    model still outgrows the driver, use lm_strategy='distributed': it
    collects only the verdicts of the scored corpus's distinct bigrams
    (and above lm.LM_VERDICT_MAX_KEYS of those, nothing: token-grain
    joins)."""
    from . import lm as lm_op
    if tables is None:
        tables = lm_op.lm_count_tables(ref_pages, min_count)
    c1 = {r["tok"]: r["c1"] for r in tables.c1.collect()}
    c2 = {(r["prev"], r["tok"]): r["c2"] for r in tables.c2e.collect()}
    return c2, c1, tables.total


def build_broadcast(spark: SparkSession, cfg: FilterConfig,
                    ref_pages: DataFrame | None, lm_tables=None):
    """B4 build side: broadcast the quality-signal payload for sub-row-
    grain probing inside the scoring UDF (a broadcast semi-join at token
    grain): the vocabulary set, the corpus-built accepted set, or the
    bigram LM counts (``lm_tables``: reuse pre-built count tables)."""
    if cfg.mode == "intrinsic":
        payload = set(cfg.vocab)
    elif cfg.mode == "bigram_lm":
        if ref_pages is None and lm_tables is None:
            raise ValueError("bigram_lm mode requires a reference corpus DataFrame")
        c2, c1, total = bigram_lm_counts(ref_pages, cfg.lm_min_count,
                                         tables=lm_tables)
        payload = ("lm", c2, c1, total, cfg.lm_threshold)
    else:
        if ref_pages is None:
            raise ValueError("refset mode requires a reference corpus DataFrame")
        rows = accepted_df(ref_pages, cfg.required_copies).select("token").collect()
        payload = {r[0] for r in rows}
    return spark.sparkContext.broadcast(payload)
