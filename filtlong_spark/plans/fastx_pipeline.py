"""The literal Filtlong pipeline over FASTQ/FASTA reads — full parity mode.

A user of the reference can run their exact workload here: same input
formats, same flags (FilterConfig), same scoring math, same keep/drop
decisions, same trim/split child naming, same ordered output — but
distributed. Mirrors src/main.cpp:40-311 stage by stage; golden-tested
against the reference's own test fixtures (tests/test_fastx_parity.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..functions import scoring as web_scoring
from ..functions import seqscore
from ..operators import budget as budget_op
from ..operators import normalize as normalize_op


@dataclass
class FastxResult:
    kept: DataFrame          # globally ordered survivors with seq/qual
    reads2: DataFrame        # post-scrub scored set with passed labels
    total_bases: int
    target: int | None
    any_fasta: bool
    any_fastq: bool
    # same survivors WITHOUT the global orderBy baked in: the distributed
    # sink (write_fastx) range-partitions + sorts within tasks itself, so
    # consuming `kept` there would pay the range exchange + sort twice.
    # Ordering is a consumer choice, as in the web pipeline's
    # output_ordering='partitioned' path (plans/pipeline.py).
    kept_unordered: DataFrame | None = None


def build_kmer_set(spark: SparkSession, ref_reads: DataFrame,
                   required_copies: int) -> np.ndarray:
    """B1-B3: exact distributed 16-mer counting over BOTH strands
    (src/kmers.cpp:106-166; assembly mode passes required_copies=1 —
    add_kmer_require_one_copy, src/kmers.cpp:137-139). The Bloom/count-map
    staging is replaced by an exact partial+final count aggregate.
    Returns the accepted set as a SORTED uint64 array for vectorized
    searchsorted probes."""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    counts = (ref_reads.select("seq")
              .mapInPandas(seqscore.make_kmer_count_mapper(),
                           schema="kmer long, cnt long")
              .groupBy("kmer").agg(F.sum("cnt").alias("cnt"))
              .filter(F.col("cnt") >= required_copies))
    kmers = np.array([r["kmer"] for r in counts.collect()], dtype=np.uint64)
    kmers.sort()
    return kmers


READS2_SCHEMA = ("name string, parent_name string, file string, "
                 "rec_idx long, n_chars long, mean_q double, "
                 "window_q double, ratio double, "
                 "child_start int, child_end int, is_child boolean")


def run_filtlong(spark: SparkSession, reads: DataFrame, cfg: FilterConfig,
                 assembly: DataFrame | None = None,
                 ref_reads: DataFrame | None = None) -> FastxResult:
    """Entry points 3.1-3.3 of SURVEY.md: Phred mode (no reference),
    assembly reference mode (-a), or short-read reference mode (-1/-2 —
    pass their union as ref_reads)."""
    # --trim/--split need an external reference in FASTX mode
    # (src/arguments.cpp:298-308, exact messages; without this guard the
    # scrub would silently no-op because score_read skips painting).
    # Checked BEFORE validate(), matching the reference's argument-parse
    # ordering (the reference emits this error first too).
    if assembly is None and ref_reads is None:
        if cfg.trim:
            raise ValueError(
                "Error: assembly or read reference is required to use --trim")
        if cfg.split is not None:
            raise ValueError(
                "Error: assembly or read reference is required to use --split")
    cfg.validate()

    # A2/A4 validation in one small aggregate (names + formats only)
    val = reads.agg(
        F.sum(F.when(F.col("fmt") == "fasta", 1).otherwise(0)).alias("n_fa"),
        F.sum(F.when(F.col("fmt") == "fastq", 1).otherwise(0)).alias("n_fq"),
        F.count("*").alias("n"),
        F.countDistinct("name").alias("n_names"),
        F.sum(F.length("seq")).alias("total_bases"),
    ).collect()[0]
    any_fasta, any_fastq = val["n_fa"] > 0, val["n_fq"] > 0
    if any_fasta and any_fastq:
        raise ValueError("Error: could not parse input reads")  # src/main.cpp:96-100
    if val["n_names"] != val["n"]:
        dup = (reads.groupBy("name").count().filter("count > 1")
               .select("name").first())
        raise ValueError(f"Error: duplicate read name: {dup['name']}")  # src/main.cpp:113-117

    # reference k-mer set (B1-B3)
    accepted = None
    if assembly is not None:
        accepted = build_kmer_set(spark, assembly, required_copies=1)
    elif ref_reads is not None:
        accepted = build_kmer_set(spark, ref_reads,
                                  required_copies=cfg.required_copies)
    if any_fasta and accepted is None:
        raise ValueError(
            "Error: FASTA input not supported without an external reference")  # src/main.cpp:103-106

    accepted_bc = spark.sparkContext.broadcast(accepted)
    mapper = seqscore.make_fastx_scoring_mapper(
        accepted_bc, cfg.window_size, cfg.trim, cfg.split)
    scored = (reads.select("name", "seq", "qual", "file", "rec_idx")
              .mapInPandas(mapper, schema=READS2_SCHEMA))
    scored = scored.withColumn(
        "length_s", web_scoring.length_score_col(F.col("n_chars")))
    scored = scored.withColumn("hard_passed", web_scoring.hard_pass_col(cfg))
    # normalize/budget operators key their tiebreak on `url`
    reads2 = scored.withColumn("url", F.col("name")).persist()

    stats = reads2.agg(*normalize_op.stats_aggs()).collect()[0]
    total_bases = int(val["total_bases"] or 0)
    normalized = normalize_op.normalize(reads2, cfg, stats=stats)
    labeled = budget_op.apply_budget(normalized, cfg, total_bases,
                                     passed_chars=stats["passed_chars"])
    target = budget_op.compute_target(cfg, total_bases)

    # A7 ordered output: reattach seq/qual by parent name; children are
    # substrings of BOTH seq and qual (src/main.cpp:284-309)
    src = reads.select(F.col("name").alias("parent_name"), "comment",
                       "seq", "qual")
    sub = lambda c: F.when(  # noqa: E731
        F.col("is_child"),
        F.substring(F.col(c), F.col("child_start") + 1,
                    F.col("child_end") - F.col("child_start"))
    ).otherwise(F.col(c))
    kept_unordered = (labeled.filter(F.col("passed"))
                      .join(src, "parent_name")
                      .withColumn("seq", sub("seq"))
                      .withColumn("qual", sub("qual"))
                      .select("name", "comment", "seq", "qual", "n_chars",
                              "mean_q", "window_q", "file", "rec_idx",
                              "child_start"))
    kept = kept_unordered.orderBy("file", "rec_idx", "child_start")
    return FastxResult(kept=kept, reads2=labeled, total_bases=total_bases,
                       target=target, any_fasta=any_fasta,
                       any_fastq=any_fastq, kept_unordered=kept_unordered)


def to_fastx_lines(result: FastxResult) -> list[str]:
    """Driver-side formatter for FIXTURE-scale parity tests (the
    reference's stdout contract); real read sets go through write_fastx
    below — this one collects every survivor to the driver."""
    from ..sources.fastx import format_record
    as_fasta = result.any_fasta
    return [format_record(r["name"], r["comment"], r["seq"],
                          r["qual"], as_fasta)
            for r in result.kept.collect()]


def _format_col(as_fasta: bool) -> "F.Column":
    """format_record as a Catalyst expression (whole-stage codegen): the
    text writer appends the row's trailing newline."""
    header = F.concat(
        F.col("name"),
        F.when(F.length(F.coalesce(F.col("comment"), F.lit(""))) > 0,
               F.concat(F.lit(" "), F.col("comment"))).otherwise(F.lit("")))
    if as_fasta:
        return F.concat(F.lit(">"), header, F.lit("\n"), F.col("seq"))
    return F.concat(F.lit("@"), header, F.lit("\n"), F.col("seq"),
                    F.lit("\n+\n"), F.col("qual"))


def sink_df(result: FastxResult, n_partitions: int | None = None):
    """The distributed sink's plan: range-partition + in-task sort over
    the UNORDERED survivors — exactly one exchange and one sort (asserted
    in tests); consuming result.kept here would re-pay its global sort's
    range exchange before re-partitioning."""
    kept = (result.kept_unordered
            if result.kept_unordered is not None else result.kept)
    n = n_partitions or kept.sparkSession.sparkContext.defaultParallelism
    return (kept.repartitionByRange(n, "file", "rec_idx")
            .sortWithinPartitions("file", "rec_idx", "child_start")
            .select(_format_col(result.any_fasta).alias("value")))


def write_fastx(result: FastxResult, out_dir: str,
                n_partitions: int | None = None) -> None:
    """Distributed A7 sink (the scale rendering of src/main.cpp:263-311):
    survivors are range-partitioned on (file, rec_idx), sorted within each
    output task by (file, rec_idx, child_start), formatted JVM-side, and
    written as text. Range partitioning makes part files globally ordered
    — part-00000's keys all precede part-00001's — so concatenating the
    parts in filename order reproduces the single-writer stdout
    byte-for-byte (asserted in tests). No survivor ever touches the
    driver."""
    sink_df(result, n_partitions).write.mode("overwrite").text(out_dir)
