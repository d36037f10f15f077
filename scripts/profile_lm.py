"""Phase-level profile of the distributed bigram-LM leg (bench
big_input_lm input): times the count tables, both sub-paths of
lm.score_and_scrub_distributed — the verdict broadcast (phase 1 verdict
pass, then the fused scorer's write) and the token join (stage-1
tokenize, paint, reassembly) — and the full pipeline separately, so
optimization targets the measured bottleneck, not a guess.

Usage: python scripts/profile_lm.py [n_runs]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    import bench

    # the bench session config IS part of what we profile (Arrow batch
    # 500, fixed small heap, big code cache — see bench.build_session);
    # a separately-tuned session here measured a different engine
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from filtlong_spark.operators import lm as lm_op
    from filtlong_spark.plans.pipeline import run_filter

    pages = spark.read.parquet("data/pages_lm_50000.parquet")
    n = pages.count()
    cfg = bench.lm_stack_cfg()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def distributed(bound):
        """score_and_scrub_distributed's noop write with the verdict
        bound set to ``bound`` (0 forces the token join)."""
        saved = lm_op.LM_VERDICT_MAX_KEYS
        lm_op.LM_VERDICT_MAX_KEYS = bound
        try:
            noop(lm_op.score_and_scrub_distributed(
                spark, pages, cfg, pages, tables=tables))
        finally:
            lm_op.LM_VERDICT_MAX_KEYS = saved

    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    for r in range(n_runs):
        t = {}
        t0 = time.time()
        tables = lm_op.lm_count_tables(pages, cfg.lm_min_count)
        t["count_tables"] = time.time() - t0

        t0 = time.time()
        verdicts = lm_op.lm_verdicts(pages, tables, cfg.lm_threshold,
                                     lm_op.LM_VERDICT_MAX_KEYS)
        t["verdict_pass"] = time.time() - t0

        t0 = time.time()
        distributed(lm_op.LM_VERDICT_MAX_KEYS)
        t["verdict_pass+fused_write"] = time.time() - t0

        t0 = time.time()
        keyed = pages.select(F.xxhash64("url").alias("doc_key"),
                             "url", "text")
        tok_rows = keyed.mapInArrow(lm_op.make_token_mapper(cfg),
                                     schema=lm_op.TOK_SCHEMA)
        n_tok = tok_rows.count()
        t["token_join.stage1_tokenize"] = time.time() - t0

        t0 = time.time()
        painted = lm_op.paint_goodness(tok_rows, tables.c1, tables.c2e,
                                       tables.total, cfg.lm_threshold)
        painted.count()
        t["token_join.stage1+paint"] = time.time() - t0

        t0 = time.time()
        distributed(0)
        t["token_join.write"] = time.time() - t0
        tables.release()

        t0 = time.time()
        res = run_filter(spark, pages, cfg, ref_pages=pages)
        res.kept.count()
        t["full_pipeline"] = time.time() - t0

        keys = None if verdicts is None else len(verdicts[0])
        print(f"run {r}: n_docs={n} n_tok_rows={n_tok} verdict_keys={keys}")
        for k, v in t.items():
            print(f"  {k:28s} {v:7.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
