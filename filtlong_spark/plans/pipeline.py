"""End-to-end filter pipeline (SURVEY.md §3 query lifecycle).

Stage order mirrors the reference (src/main.cpp:40-311), with the web
gates in front of scoring:

  ingest/validate -> [gate stage: blocklist -> line dedup -> near-dup ->
  classifier, one verdict table] -> [refset build] -> fused score+scrub
  (one mapInPandas pass emitting the post-scrub set) -> normalize over the
  POST-scrub set -> budget (target measured against RAW input chars) ->
  ordered survivors

Physical plan discipline (the 100 TB posture):
- Python runs in the fused scorer, in ingest's canonical-URL pandas UDF
  (canonical_url_dedup) and in the gates' Arrow mappers (line clean,
  shingling, classifier features); everything else is columnar.
- with any gate on, the gated, line-cleaned corpus is materialized ONCE;
  the gates, the scorer and the survivor reattach read it. With line
  dedup on, the ingest + blocklist rows are materialized first, so the
  line-frequency count and the line clean read them and ingest (with
  its canonical-URL UDF) runs once per fresh run. The corpus is
  committed with the snapshot, so a resume reattaches survivor text
  from it with one scan and never re-reads the source or re-runs a
  gate; a gated resume plans ingest only if its quarantine is read.
- total raw input chars ride an Observation on the first action over
  the ingest rows — no separate input traversal.
- E1 stats + the budget's passed-chars sum share ONE aggregate job over
  the committed post-scrub set.
- approx budget adds one histogram aggregate + a boundary-bucket-only
  window; there is NO global sort of the data.

Job count without gates: the snapshot write + the stats aggregate +
[budget: 1 histogram + boundary] + the consumer's action. The gate stage
adds the ingest checkpoint and line-frequency collect (line dedup on),
the corpus checkpoint, near-dup's own jobs (the shingle checkpoint and
the candidate-pair probe; a graph above the driver budget adds the
connected-components loop, see dedup.connected_components), and the
corpus and verdict writes. The per-gate drop counts are read from the
verdict part files, with no job.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property, reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..operators import budget as budget_op
from ..operators import ingest as ingest_op
from ..operators import normalize as normalize_op
from ..operators import output as output_op
from ..operators import refset as refset_op
from ..operators import score as score_op
from ..sources import tables


@dataclass
class PipelineResult:
    kept: DataFrame        # survivors, ordered (warc_ts, url, child_start)
    reads2: DataFrame      # full post-scrub scored set with passed labels
    build_quarantine: Callable[[], DataFrame]  # plans `quarantine`
    total_input_chars: int
    target: int | None
    scratch_dir: str = ""
    resumed: bool = False
    metrics: dict | None = None
    lang_rejected: DataFrame | None = None  # langid-gated docs (A2 analog)

    @cached_property
    def quarantine(self) -> DataFrame:
        """Ingest's and the gates' rejects with a reason column, planned
        on first read: a resume that only writes survivors plans no
        ingest."""
        return self.build_quarantine()


# cfg fields baked into the committed reads2 snapshot (anything that moves
# per-doc metrics, hard_passed, or the child set). Budget/weight fields are
# applied AFTER the snapshot, so changing them on resume is legal.
_SNAPSHOT_FIELDS = (
    "canonical_url_dedup", "near_dup_dedup", "line_dedup_min_df",
    "blocklist_hosts", "blocklist_words",
    "clf_threshold", "clf_weights",
    "window_size", "trim", "split", "pii_scrub", "mode", "vocab",
    "required_copies", "lm_threshold", "lm_min_count",
    "langid_enabled", "langid_expected",
    "min_length", "max_length", "min_mean_q", "min_window_q",
)


def _check_resume_config(cfg: FilterConfig, committed: dict) -> None:
    """Refuse to resume from a snapshot scored under a different config —
    silently reusing stale scores would mislabel every document. Budget /
    weight knobs may change freely (they run after the snapshot)."""
    def canon(v):
        return sorted(v) if isinstance(v, (frozenset, set, list, tuple)) else v
    diffs = [f for f in _SNAPSHOT_FIELDS
             if f in committed and canon(committed[f]) != canon(
                 getattr(cfg, f, None))]
    if diffs:
        from ..config import ConfigError
        raise ConfigError(
            "Error: cannot resume — checkpoint was scored with a different "
            f"config (mismatched fields: {', '.join(diffs)}); use a new "
            "checkpoint_dir or pass resume=False to re-score")


def _combine_stats(part_rows) -> dict:
    """Combine per-language-group aggregates into the global E1 stats.
    min/max/sum/count combine exactly; sigma comes from the moment sums
    and is consumed only by normalize()'s sigma<=0 degenerate check."""
    import math
    rows = [r for r in part_rows if r["n_docs"]]
    n = sum(r["n_docs"] for r in rows)
    if n == 0:
        return {"min_q": None, "max_q": None, "mu": None, "sigma": None,
                "passed_chars": 0}
    min_q = min(r["min_q"] for r in rows if r["min_q"] is not None)
    max_q = max(r["max_q"] for r in rows if r["max_q"] is not None)
    sum_q = sum(r["sum_q"] or 0.0 for r in rows)
    sum_q2 = sum(r["sum_q2"] or 0.0 for r in rows)
    mu = sum_q / n
    sigma = math.sqrt(max(sum_q2 / n - mu * mu, 0.0))
    passed = sum(int(r["passed_chars"] or 0) for r in rows)
    return {"min_q": min_q, "max_q": max_q, "mu": mu, "sigma": sigma,
            "passed_chars": passed}


# the page columns the gate stage materializes and the output reattaches
PAGE_COLS = ("url", "warc_ts", "lang", "text")
DROP_COUNTERS = ("blocklist_dropped", "near_dup_dropped", "clf_dropped")
# the bigram-LM scorer's size-gated decision (None outside bigram_lm):
# lm_path 'broadcast' / 'verdict_broadcast' / 'token_join', the verdict
# key count (verdict path only) and the verdict path's key bound
LM_DECISION = ("lm_path", "lm_verdict_keys", "lm_verdict_max_entries")


def _blocklist_on(cfg: FilterConfig, blocklist_hosts_df) -> bool:
    return bool(cfg.blocklist_hosts or cfg.blocklist_words
                or blocklist_hosts_df is not None)


def _release_checkpoint(checkpointed: DataFrame) -> None:
    """Drop an eager localCheckpoint's blocks from executor storage once
    nothing reads it. PySpark has no call for this; the checkpoint's
    plan is a LogicalRDD over the persisted RDD."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _gate_stage(spark: SparkSession, valid: DataFrame, cfg: FilterConfig,
                blocklist_hosts_df: DataFrame | None, scratch: str):
    """The pre-scoring gates as one stage: (corpus, verdicts, drops).

    ``corpus`` is the post-blocklist, line-cleaned pages (PAGE_COLS),
    materialized ONCE by an eager localCheckpoint that also carries the
    blocklist verdict; near-dup, the classifier, the scorer and the
    survivor reattach all read it. With line dedup on, the rows before
    the line clean get their own eager checkpoint, which the
    line-frequency count and the clean both read, so ingest and the
    blocklist probe run once; it is released from executor storage once
    the corpus checkpoint is built. The corpus checkpoint is also
    committed under ``scratch`` as ``corpus/`` (a write that reads it
    back, nothing upstream reruns), so resume reattaches survivor text
    from it.
    ``verdicts`` is the one (url, reason) table every gate writes to,
    committed under ``scratch`` before the snapshot; a url flagged twice
    keeps the first reason in DCLM order: deny list, then near-dup, then
    the classifier. Near-dup and the classifier see only unblocked pages.
    ``drops``: rows each enabled gate dropped, by lineage counter, read
    from the committed verdict files."""
    from ..operators import dedup as dedup_op
    blocklist = _blocklist_on(cfg, blocklist_hosts_df)
    pages = valid.select(*PAGE_COLS, F.lit(True).alias("keep"))
    if blocklist:
        # UT1-style deny list: map-only broadcast probe on the host;
        # blocked pages keep no text (they are quarantined from the raw
        # ingest rows, never cleaned or scored)
        from ..operators import partitioning as part_op
        hosts_df = spark.createDataFrame(
            [(h,) for h in cfg.blocklist_hosts], "host string")
        if blocklist_hosts_df is not None:
            hosts_df = hosts_df.unionByName(blocklist_hosts_df.toDF("host"))
        pages = part_op.blocklist_gate(
            valid.withColumn("_bl_host", part_op.host_of(F.col("url"))),
            hosts_df, tuple(cfg.blocklist_words), host_col="_bl_host",
            key_col="url", carry=PAGE_COLS[1:])
        pages = pages.select(*PAGE_COLS[:3], F.when(
            F.col("keep"), F.col("text")).alias("text"), "keep")
    pre_clean = None
    if cfg.line_dedup_min_df is not None:
        # the line-frequency count and the line clean both read these
        # rows: materialize them once, so ingest runs once per fresh leg
        pages = pre_clean = pages.localCheckpoint(eager=True)
        # line frequencies count over the unblocked pages only
        hot = dedup_op.line_hot_hashes(pages.filter(F.col("keep")),
                                       cfg.line_dedup_min_df, key="url")
        pages = dedup_op.line_clean_pages(pages, cfg.line_dedup_min_df,
                                          hot=hot)
    pages = pages.localCheckpoint(eager=True)
    if pre_clean is not None:
        # everything downstream reads the corpus checkpoint: executor
        # storage holds one full-text copy of the corpus, not two
        _release_checkpoint(pre_clean)
    pages.write.mode("overwrite").parquet(
        os.path.join(scratch, output_op.CORPUS_SUBDIR))
    corpus = pages.filter(F.col("keep")).select(*PAGE_COLS)

    # (lineage counter, reason, flagged pages) in precedence order
    gates = [("blocklist_dropped", "blocklisted",
              pages.filter(~F.col("keep")))] if blocklist else []
    if cfg.near_dup_dedup is not None:
        nd = dedup_op.near_dup_url_labels(corpus, cfg.near_dup_dedup)
        gates.append(("near_dup_dropped",
                      f"near_duplicate_{cfg.near_dup_dedup}",
                      nd.filter(F.col("is_dup"))))
    if cfg.clf_threshold is not None:
        # linear logit over guarded-ratio features, weights folded into
        # the plan as literals — one map-only Arrow feature pass
        from ..operators import classifier as clf_op
        w = (clf_op.weights_from_tuple(cfg.clf_weights)
             if cfg.clf_weights else None)
        clf = clf_op.quality_classifier(corpus, sorted(cfg.vocab), weights=w,
                                        threshold=cfg.clf_threshold,
                                        key="url")
        gates.append(("clf_dropped", "classifier_rejected",
                      clf.filter(~F.col("keep"))))
    flagged = reduce(
        DataFrame.unionByName,
        [df.select("url", F.lit(reason).alias("reason"),
                   F.lit(rank).alias("rank"))
         for rank, (_, reason, df) in enumerate(gates)],
        spark.createDataFrame([], "url string, reason string, rank int"))
    verdicts = output_op.write_verdicts(
        flagged.groupBy("url").agg(F.min_by("reason", "rank")
                                   .alias("reason")), scratch)
    counts = output_op.verdict_counts(scratch)
    return corpus, verdicts, {counter: counts.get(reason, 0)
                              for counter, reason, _ in gates}


def run_filter(spark: SparkSession, pages: DataFrame, cfg: FilterConfig,
               ref_pages: DataFrame | None = None,
               checkpoint_dir: str | None = None,
               resume: bool = True,
               blocklist_hosts_df: DataFrame | None = None) -> PipelineResult:
    """Run the full filter. ``checkpoint_dir``: where the scored post-scrub
    set is committed (parquet + lineage.json); pass the same dir again to
    RESUME — a committed run skips ingest+scoring entirely
    (north_rule: resumable from the last committed snapshot).
    ``blocklist_hosts_df``: optional one-column DataFrame(host) deny list
    for the blocklist stage when the list is too large for
    cfg.blocklist_hosts (UT1 scale); unioned with the config tuple.
    ``pages`` must give the same rows each time it is evaluated: a fresh
    leg reads it in more than one Spark job (the snapshot write and the
    survivor text reattach; under lm_strategy='distributed', also the
    verdict pass), so persist or write out a sampled or unordered-limit
    source first."""
    cfg.validate()
    scratch = checkpoint_dir or output_op.new_scratch_dir()
    gated = (_blocklist_on(cfg, blocklist_hosts_df)
             or cfg.line_dedup_min_df is not None
             or cfg.near_dup_dedup is not None
             or cfg.clf_threshold is not None)
    # the gate stage's commit members: resume requires them, and the
    # snapshot manifest covers their part files
    members = ((output_op.CORPUS_SUBDIR, output_op.VERDICTS_SUBDIR)
               if gated else ())

    counters = {}
    resumed = resume and output_op.is_committed(os.path.join(scratch, "reads2"))
    # without gates the committed snapshot holds metrics only, and the
    # source table is re-read at output time to reattach survivor text
    # (the reference's second input pass, src/main.cpp:263-311); with a
    # gate on, a resume reads the committed corpus instead, and ingest
    # is planned only if the quarantine is read
    ing = None if resumed and gated else ingest_op.ingest(
        pages, canonical_url_dedup=cfg.canonical_url_dedup)
    if resumed:
        lineage = output_op.read_lineage(scratch) or {}
        _check_resume_config(cfg, lineage.get("config") or {})
        output_op.verify_snapshot_chain(scratch, required=members)
        reads2 = spark.read.parquet(os.path.join(scratch, "reads2"))
        total_input_chars = lineage.get("total_input_chars", 0)
        counters = lineage
        # survivors reattach the fresh leg's line-CLEANED text from the
        # committed corpus (one parquet scan, no gate reruns); gated docs
        # were never scored, so the inner label join below cannot
        # resurrect them
        if gated:
            src_pages = (spark.read.parquet(
                os.path.join(scratch, output_op.CORPUS_SUBDIR))
                .filter(F.col("keep")).select(*PAGE_COLS))
            verdicts = output_op.read_verdicts(spark, scratch)
        else:
            src_pages = ing.valid.select(*PAGE_COLS)
    else:
        # raw input char total (src/main.cpp:89) — observed on the first
        # action over the ingest rows instead of a separate traversal
        obs = Observation()
        valid = ing.valid.observe(
            obs, F.sum(F.length("text")).alias("total_chars"),
            F.count(F.lit(1)).alias("n_docs"))
        # a large source in fewer files than cores (one ~16 MB file at
        # bench SF) would run the CPU-heavy Python scoring stage on a
        # few tasks; fan it out first. At corpus scale the source has
        # >> defaultParallelism files, so this is a no-op — no extra
        # shuffle of text is ever paid where it would hurt. Decided from
        # the source's files alone: no Spark job, no RDD conversion.
        if tables._should_spread(spark, pages.inputFiles()):
            valid = valid.repartition(spark.sparkContext.defaultParallelism)

        if gated:
            # the Observation sits below the gates, so the budget still
            # measures against the RAW input chars (src/main.cpp:89,228)
            corpus, verdicts, counters = _gate_stage(
                spark, valid, cfg, blocklist_hosts_df, scratch)
            valid = corpus.join(verdicts, "url", "left_anti")

        lm_strategy, lm_tables = None, None
        if cfg.mode == "bigram_lm":
            from ..operators import lm as lm_op
            counters.update(
                lm_path="broadcast",
                lm_verdict_max_entries=lm_op.LM_VERDICT_MAX_KEYS)
            lm_strategy = cfg.lm_strategy
            if lm_strategy == "auto":
                # planning step: broadcast iff the pruned model fits the
                # budget (one count job over the build-side ref corpus);
                # the tables it builds are persisted and REUSED by the
                # chosen path below — the model is only counted once
                lm_strategy, lm_tables = lm_op.plan_lm(ref_pages, cfg)
            elif ref_pages is not None:
                lm_tables = lm_op.lm_count_tables(ref_pages,
                                                  cfg.lm_min_count)
        try:
            if lm_strategy == "distributed":
                # LM scale path: the corpus's pair verdicts broadcast, or
                # token-grain joins — the model is never collected
                scored = lm_op.score_and_scrub_distributed(
                    spark, valid, cfg, ref_pages, tables=lm_tables,
                    decision=counters)
            else:
                accepted_bc = refset_op.build_broadcast(
                    spark, cfg, ref_pages, lm_tables=lm_tables)
                scored = score_op.score_and_scrub(valid, cfg, accepted_bc)
            reads2, _ = output_op.checkpoint(
                scored, spark, os.path.join(scratch, "reads2"),
                resume=False)
        finally:
            if lm_tables is not None:
                # the committed snapshot is materialized (or the job
                # failed) — either way the cached count tables must not
                # stay pinned in executor storage
                lm_tables.release()
        # survivors reattach text from the gated corpus checkpoint, or
        # (no gate) from the source lineage that was scored
        src_pages = corpus if gated else valid
        try:
            total_input_chars = obs.get["total_chars"] or 0
        except Exception:
            # an all-empty input lets PropagateEmptyRelation collapse the
            # observed subtree (joins downstream), so the CollectMetrics
            # node never runs and Observation.get raises — zero docs means
            # zero chars
            total_input_chars = 0

    def quarantine() -> DataFrame:
        i = ing or ingest_op.ingest(
            pages, canonical_url_dedup=cfg.canonical_url_dedup)
        return (i.quarantine.unionByName(i.valid.join(verdicts, "url"))
                if gated else i.quarantine)

    # langid gate (A2 analog): rejected docs never enter normalization
    lang_rejected = reads2.filter(~F.col("lang_ok"))
    reads2 = reads2.filter(F.col("lang_ok"))

    # E1 stats + the budget's passed-chars sum + the per-language-partition
    # lineage counters: ONE aggregate job over the committed set (grouped
    # by lang_pred — a handful of rows — then combined driver-side;
    # column-pruned parquet read). min/max/sums combine exactly across
    # groups; sigma is derived from (sum, sum_sq, n) and only ever feeds
    # the sigma<=0 degenerate check, never a score (normalize() scales by
    # min/max — the closed form of the z-score scaling).
    part_rows = (reads2.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.when(F.col("hard_passed"), 1).otherwise(0))
        .alias("hard_passed_docs"),
        F.min("mean_q").alias("min_q"), F.max("mean_q").alias("max_q"),
        F.sum("mean_q").alias("sum_q"),
        F.sum(F.col("mean_q") * F.col("mean_q")).alias("sum_q2"),
        F.sum(F.when(F.col("hard_passed"), F.col("n_chars")))
        .alias("passed_chars"),
    ).collect())
    stats = _combine_stats(part_rows)

    normalized = normalize_op.normalize(reads2, cfg, stats=stats)
    labeled = budget_op.apply_budget(normalized, cfg, total_input_chars,
                                     passed_chars=stats["passed_chars"])
    target = budget_op.compute_target(cfg, total_input_chars)

    metrics = {
        "total_input_chars": int(total_input_chars),
        "post_scrub_docs": None,  # filled by consumers if they count
        "passed_chars_pre_budget": int(stats["passed_chars"] or 0),
        "target": target,
        "resumed": resumed,
        # per-gate drop counters and the LM decision (None when the gate
        # or LM is off; on resume, read back from the committed lineage)
        **{k: counters.get(k) for k in DROP_COUNTERS + LM_DECISION},
        "config": {k: (list(v) if isinstance(v, frozenset) else v)
                   for k, v in cfg.__dict__.items()},
    }
    if not resumed:
        # per-partition lineage rows (north_rule): counters per language
        # partition of the committed snapshot — already computed by the
        # shared stats job above (on a cluster these are the Iceberg
        # partition-level counters)
        metrics["partitions"] = {
            str(r["lang_pred"]): {"n_docs": r["n_docs"],
                                  "chars": int(r["chars"] or 0),
                                  "hard_passed_docs": int(
                                      r["hard_passed_docs"] or 0)}
            for r in part_rows}
        output_op.write_lineage(scratch, metrics, members=members)

    # output: reattach text by joining labels back to the source table —
    # the labels side is small (metrics only) so AQE turns this into a
    # broadcast join and the text column never shuffles; child text is a
    # substring of the parent (byte-identical requirement)
    labels = labeled.filter(F.col("passed"))
    src = src_pages.select(F.col("url").alias("parent_url"),
                           "warc_ts", "lang", "text")
    kept = (labels.join(src, "parent_url")
            .withColumn(
                "text",
                F.when(F.col("is_child"),
                       F.substring(F.col("text"), F.col("child_start") + 1,
                                   F.col("child_end") - F.col("child_start")))
                .otherwise(F.col("text"))))
    # survivor order = input order, children in span order (the reference's
    # output contract, src/main.cpp:284-309). Keyed on parent_url, NOT the
    # child url: sibling children share warc_ts and child names sort
    # lexicographically ("_15-19" < "_4-8"), so url ordering would invert
    # digit-crossing child starts.
    order_cols = ("warc_ts", "parent_url", "child_start")
    if cfg.output_ordering == "partitioned":
        # 100 TB path: no global sort — range-partition on the leading keys
        # and sort within each output task (what an Iceberg write task does)
        kept = (kept.repartitionByRange(*order_cols[:2])
                .sortWithinPartitions(*order_cols))
    else:
        kept = kept.orderBy(*order_cols)
    return PipelineResult(kept=kept, reads2=labeled,
                          build_quarantine=quarantine,
                          total_input_chars=total_input_chars, target=target,
                          scratch_dir=scratch, resumed=resumed,
                          metrics=metrics, lang_rejected=lang_rejected)
