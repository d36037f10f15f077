"""Where does the distributed bigram-LM scorer's verdict broadcast stop
beating the token join? Times both sub-paths of
lm.score_and_scrub_distributed on synthetic corpora whose distinct
(prev, tok) pair count is set by the vocabulary size, at a fixed token
count, with the corpus as its own reference (the bench big_input_lm
shape):

  verdict   the verdict path (phase 1 + the fused write), no bound
  join      the token join alone (lm._token_join), what runs above the
            bound once the bound is known to be exceeded
  fallback  the whole call with the bound below the key count: phase 1
            runs to completion, finds too many keys, then the token join

Each doc holds ``tokens`` words "w<k>", k = xxhash64(doc, position) mod
vocab, so the corpus is generated in Spark (deterministic, no download).
The config is bench.lm_stack_cfg with langid off: langid would gate these
non-English docs, and the token join emits no token rows for gated docs.
Paths alternate order between repeats; each cell prints the median wall.

Usage: python scripts/lm_crossover.py [docs] [tokens] [vocab,vocab,...]
       [repeats]   (defaults: 25000 120 100,300,1000,2000,100000 3)
"""

import dataclasses
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    import bench

    docs = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
    tokens = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    vocabs = [int(v) for v in (sys.argv[3] if len(sys.argv) > 3
                               else "100,300,1000,2000,100000").split(",")]
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    spark = bench.build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from filtlong_spark.operators import lm as lm_op

    cfg = dataclasses.replace(bench.lm_stack_cfg(), langid_enabled=False)
    tmp = tempfile.mkdtemp(prefix="lm_crossover_")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def run(pages, tables, bound):
        saved = lm_op.LM_VERDICT_MAX_KEYS
        lm_op.LM_VERDICT_MAX_KEYS = bound
        decision = {}
        try:
            noop(lm_op.score_and_scrub_distributed(
                spark, pages, cfg, None, tables=tables, decision=decision))
        finally:
            lm_op.LM_VERDICT_MAX_KEYS = saved
        return decision

    print(f"docs={docs} tokens/doc={tokens} "
          f"cores={spark.sparkContext.defaultParallelism}")
    for vocab in vocabs:
        path = os.path.join(tmp, f"v{vocab}.parquet")
        words = F.transform(
            F.sequence(F.lit(1), F.lit(tokens)),
            lambda i: F.concat(F.lit("w"), F.pmod(
                F.xxhash64(F.col("id"), i), F.lit(vocab)).cast("string")))
        (spark.range(docs, numPartitions=8)
         .select(F.concat(F.lit("https://syn.test/"), F.col("id"))
                 .alias("url"),
                 F.concat_ws(" ", words).alias("text"))
         .write.mode("overwrite").parquet(path))
        pages = spark.read.parquet(path)
        tables = lm_op.lm_count_tables(pages, cfg.lm_min_count)
        keys = run(pages, tables, 2 ** 31 - 2)["lm_verdict_keys"]  # warm-up
        times = {"verdict": [], "join": [], "fallback": []}
        for r in range(repeats):
            order = list(times) if r % 2 == 0 else list(times)[::-1]
            for name in order:
                t0 = time.time()
                if name == "verdict":
                    run(pages, tables, 2 ** 31 - 2)
                elif name == "join":
                    noop(lm_op._token_join(pages, cfg, tables,
                                           lm_op._eps_good(
                                               tables.total,
                                               cfg.lm_threshold)))
                else:
                    assert run(pages, tables, keys - 1)["lm_path"] \
                        == "token_join"
                times[name].append(time.time() - t0)
        tables.release()
        print(f"vocab={vocab:>7} keys={keys:>9} "
              + " ".join(f"{k}={statistics.median(v):6.2f}s"
                         for k, v in times.items()), flush=True)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
