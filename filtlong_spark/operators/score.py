"""Per-document scoring stage (SURVEY.md §2C: C1-C6 + D1).

``score_and_scrub`` is the one intrinsic scorer: the pipeline and the
oracle's scoring queries both run it. One fused mapInPandas pass
(functions/scoring.make_reads2_mapper) paints tokens,
computes mean/window quality and, when scrubbing, emits re-scored
children; the length score and hard rules stay in whole-stage codegen.

``quality_catalyst`` is the Catalyst rendering of mean quality (explode
tokens -> join the accepted set -> re-aggregate, no Python) behind the
``refset_quality`` oracle query; no pipeline stage reaches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..functions import scoring


def score_and_scrub(pages: DataFrame, cfg: FilterConfig, accepted_bc) -> DataFrame:
    """The pipeline's fused scoring stage: one mapInPandas pass emits the
    post-scrub record set ('reads2') directly — scored parents, or fully
    re-scored children replacing scrubbed parents (src/read.cpp:25-143 +
    src/main.cpp:136-147 in a single narrow stage, no shuffle)."""
    mapper, schema = scoring.make_reads2_mapper(accepted_bc, cfg)
    reads2 = pages.select("url", "text").mapInPandas(mapper, schema=schema)
    reads2 = reads2.withColumn("length_s",
                               scoring.length_score_col(F.col("n_chars")))
    return reads2.withColumn("hard_passed", scoring.hard_pass_col(cfg))


def quality_catalyst(pages: DataFrame, accepted: DataFrame,
                     doc_key: str = "url") -> DataFrame:
    """Mean quality via explode + broadcast semi-join + re-agg, fully
    JVM-side. Returns (doc_key, n_tokens, good_tokens, mean_q).

    The broadcast join is the row-grain rendering of the reference's
    per-base set probe (src/kmers.cpp:170-172)."""
    toks = pages.select(
        F.col(doc_key),
        F.explode(F.expr(scoring_tokenize_expr())).alias("token"))
    # no broadcast hint: AQE broadcasts the set when it is small and
    # falls back to a shuffle join when it isn't
    acc = (accepted.select("token").distinct()
           .withColumn("_hit", F.lit(1)))
    joined = toks.join(acc, "token", "left")
    return (joined.groupBy(doc_key)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("good_tokens"))
            .withColumn("mean_q",
                        100.0 * F.col("good_tokens") / F.col("n_tokens")))


def scoring_tokenize_expr() -> str:
    return r"regexp_extract_all(text, '\\S+', 0)"
