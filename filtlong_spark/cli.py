"""Filtlong-compatible command-line interface.

A user of the reference can run their exact command here:

    python -m filtlong_spark --min_length 1000 --keep_percent 90 \
        -a assembly.fasta input.fastq > output.fastq

Flag surface mirrors the reference parser (src/arguments.cpp:151-222):
positional input_reads; -t/--target_bases, -p/--keep_percent,
-l/--min_length, -L/--max_length, -q/--min_mean_q, --min_window_q
(unit suffixes k/kb/m/mb/g/gb where the reference accepts them);
-a/--assembly, -1/--short_1, -2/--short_2; --length_weight,
--mean_q_weight, --window_q_weight; --trim, --split; --window_size,
--verbose, --version. Validation failures print the reference's
"Error: ..." messages to stderr and exit 1 (src/arguments.cpp:232-330).

Survivors stream to stdout in input order (the reference's contract,
src/main.cpp:263-311). Distributed extension: ``--out_dir DIR`` writes
through the range-partitioned sink instead (part files concatenate to
the same bytes; no survivor touches the driver) — the spark-submit
path for real read sets.
"""

from __future__ import annotations

import argparse
import sys

VERSION = "filtlong_spark 0.3 (Filtlong-compatible, PySpark-native)"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="filtlong_spark",
        description="quality filtering tool for long reads (PySpark)")
    p.add_argument("input_reads", nargs="?",
                   help="input long reads to be filtered")
    g = p.add_argument_group("output thresholds")
    g.add_argument("-t", "--target_bases", metavar="INT",
                   help="keep only the best reads up to this many total "
                        "bases (unit suffixes: k, kb, m, mb, g, gb)")
    g.add_argument("-p", "--keep_percent", metavar="FLOAT", type=float,
                   help="keep only this percentage of the best reads "
                        "(measured by bases)")
    g.add_argument("-l", "--min_length", metavar="INT",
                   help="minimum length threshold")
    g.add_argument("-L", "--max_length", metavar="INT",
                   help="maximum length threshold")
    g.add_argument("-q", "--min_mean_q", metavar="FLOAT", type=float,
                   help="minimum mean quality threshold")
    g.add_argument("--min_window_q", metavar="FLOAT", type=float,
                   help="minimum window quality threshold")
    r = p.add_argument_group("external references")
    r.add_argument("-a", "--assembly", metavar="FILE",
                   help="reference assembly in FASTA format")
    r.add_argument("-1", "--short_1", metavar="FILE", dest="short_1",
                   help="reference short reads in FASTQ format")
    r.add_argument("-2", "--short_2", metavar="FILE", dest="short_2",
                   help="reference short reads in FASTQ format")
    w = p.add_argument_group("score weights")
    w.add_argument("--length_weight", metavar="FLOAT", type=float,
                   default=1.0, help="weight given to the length score")
    w.add_argument("--mean_q_weight", metavar="FLOAT", type=float,
                   default=1.0, help="weight given to the mean quality score")
    w.add_argument("--window_q_weight", metavar="FLOAT", type=float,
                   default=1.0,
                   help="weight given to the window quality score")
    m = p.add_argument_group("read manipulation")
    m.add_argument("--trim", action="store_true",
                   help="trim non-k-mer-matching bases from start/end")
    m.add_argument("--split", metavar="INT",
                   help="split reads at this many (or more) consecutive "
                        "non-k-mer-matching bases")
    o = p.add_argument_group("other")
    o.add_argument("--window_size", metavar="INT", type=int, default=250,
                   help="size of sliding window used when measuring "
                        "window quality (default: 250)")
    o.add_argument("--verbose", action="store_true",
                   help="verbose output to stderr with info for each read")
    o.add_argument("--version", action="store_true",
                   help="display the program version and quit")
    d = p.add_argument_group("distributed execution (extension)")
    d.add_argument("--out_dir", metavar="DIR",
                   help="write survivors via the distributed sink instead "
                        "of stdout (part files concatenate byte-identically)")
    d.add_argument("--master", metavar="URL", default=None,
                   help="Spark master (default: existing session or "
                        "local[*])")
    return p


def _build_config(a):
    from .config import FilterConfig
    mode = "refset" if (a.assembly or a.short_1 or a.short_2) else "intrinsic"
    return FilterConfig(
        target_chars=a.target_bases, keep_percent=a.keep_percent,
        min_length=a.min_length, max_length=a.max_length,
        min_mean_q=a.min_mean_q, min_window_q=a.min_window_q,
        length_weight=a.length_weight, mean_q_weight=a.mean_q_weight,
        window_q_weight=a.window_q_weight,
        trim=a.trim, split=a.split, window_size=a.window_size,
        mode=mode)


def build_web_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="filtlong_spark web",
        description="north_rule web-text quality-filter pipeline over an "
                    "Iceberg/parquet pages table (url, warc_ts, html, "
                    "text, lang)")
    p.add_argument("input", help="pages table path (parquet dir) or WARC "
                                 "glob (*.warc / *.warc.gz)")
    p.add_argument("--out_dir", required=True,
                   help="survivor table output path (parquet)")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir: commits the scored snapshot + "
                        "lineage; pass the same dir again to RESUME")
    p.add_argument("--min_length", default=None)
    p.add_argument("--max_length", default=None)
    p.add_argument("--min_mean_q", type=float, default=None)
    p.add_argument("--min_window_q", type=float, default=None)
    p.add_argument("--keep_percent", type=float, default=None)
    p.add_argument("--target_chars", default=None)
    p.add_argument("--window_size", type=int, default=250)
    p.add_argument("--trim", action="store_true")
    p.add_argument("--split", default=None)
    p.add_argument("--pii_scrub", action="store_true")
    p.add_argument("--langid", metavar="LANG", default=None,
                   help="language-ID gate: keep only docs predicted LANG")
    p.add_argument("--canonical_url_dedup", action="store_true",
                   help="dedup ingested pages on the canonical url")
    p.add_argument("--near_dup_dedup", choices=("simhash", "minhash"),
                   default=None,
                   help="near-duplicate dedup stage before scoring: "
                        "banded-LSH pairs -> connected components; "
                        "non-survivors quarantine with reason "
                        "near_duplicate_<method>")
    p.add_argument("--line_dedup_min_df", type=int, default=None,
                   metavar="N",
                   help="remove lines occurring in >= N distinct docs "
                        "(CCNet-style boilerplate dedup) before scoring")
    p.add_argument("--blocklist_hosts", default=None, metavar="H1,H2,...",
                   help="UT1-style deny list: quarantine docs whose url "
                        "host is listed (reason 'blocklisted')")
    p.add_argument("--blocklist_words", default=None, metavar="W1,W2,...",
                   help="quarantine docs whose text contains any listed "
                        "word (lower-cased substring match)")
    p.add_argument("--clf_threshold", type=float, default=None,
                   metavar="T",
                   help="model-based quality gate: quarantine docs whose "
                        "classifier logit is < T (reason "
                        "'classifier_rejected'); run after dedup")
    p.add_argument("--clf_weights", default=None, metavar="B,W1,..,W5",
                   help="6 comma-separated classifier coefficients "
                        "(bias + FEATURES order, e.g. from an offline "
                        "fit_weights run); default: built-in weights")
    p.add_argument("--mode", choices=("intrinsic", "refset", "bigram_lm"),
                   default="intrinsic")
    p.add_argument("--ref", default=None,
                   help="reference pages table (refset / bigram_lm modes)")
    p.add_argument("--output_ordering", choices=("global", "partitioned"),
                   default="partitioned",
                   help="partitioned (default; no global sort — the "
                        "cluster path) or global")
    p.add_argument("--master", default=None)
    return p


def run_web(argv) -> int:
    import json

    a = build_web_parser().parse_args(argv)
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("filtlong_spark_web")
    if a.master:
        b = b.master(a.master)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from . import fixtures as fx
    from .config import FilterConfig
    from .plans.pipeline import run_filter

    cfg = FilterConfig(
        min_length=a.min_length, max_length=a.max_length,
        min_mean_q=a.min_mean_q, min_window_q=a.min_window_q,
        keep_percent=a.keep_percent, target_chars=a.target_chars,
        window_size=a.window_size, trim=a.trim, split=a.split,
        pii_scrub=a.pii_scrub,
        langid_enabled=a.langid is not None, langid_expected=a.langid,
        canonical_url_dedup=a.canonical_url_dedup,
        near_dup_dedup=a.near_dup_dedup,
        line_dedup_min_df=a.line_dedup_min_df,
        blocklist_hosts=tuple(
            h for h in (a.blocklist_hosts or "").split(",") if h),
        blocklist_words=tuple(
            w for w in (a.blocklist_words or "").split(",") if w),
        clf_threshold=a.clf_threshold,
        clf_weights=tuple(
            float(x) for x in (a.clf_weights or "").split(",") if x),
        mode=a.mode, vocab=frozenset(fx.VOCAB),
        output_ordering=a.output_ordering,
        budget_algorithm="approx")
    if a.input.endswith((".warc", ".warc.gz")) or "*" in a.input:
        from .sources import warc
        pages = warc.read_warc(spark, a.input)
    else:
        pages = spark.read.parquet(a.input)
    ref = spark.read.parquet(a.ref) if a.ref else None
    res = run_filter(spark, pages, cfg, ref_pages=ref,
                     checkpoint_dir=a.checkpoint)
    res.kept.write.mode("overwrite").parquet(a.out_dir)
    n_kept = spark.read.parquet(a.out_dir).count()
    print(json.dumps({**(res.metrics or {}), "kept_docs": n_kept,
                      "out_dir": a.out_dir}, default=str),
          file=sys.stderr)
    return 0


def build_dataset_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="filtlong_spark dataset",
        description="dataset-construction operators over a documents "
                    "parquet (columns: doc_id, lang, text): "
                    "deterministic splits, CCNet quality buckets, "
                    "concat-and-chunk packing, target-mixture sampling")
    p.add_argument("op", choices=("split", "buckets", "pack", "mixture"))
    p.add_argument("--input", required=True,
                   help="input parquet of documents")
    p.add_argument("--out_dir", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--key", default="doc_id")
    p.add_argument("--group_col", default="lang",
                   help="grouping column for buckets/pack/mixture")
    # split
    p.add_argument("--train_pct", type=int, default=90)
    p.add_argument("--val_pct", type=int, default=5)
    # buckets
    p.add_argument("--score_col", default=None,
                   help="buckets: quality column to rank on (required)")
    p.add_argument("--n_buckets", type=int, default=3)
    p.add_argument("--algorithm", choices=("exact", "approx"),
                   default="approx",
                   help="buckets: exact ntile or no-sort percentile "
                        "thresholds (default: approx, the at-scale plan)")
    # pack
    p.add_argument("--capacity", type=int, default=2048,
                   help="pack: tokens per training sequence")
    # mixture
    p.add_argument("--shares", default=None, metavar="G=S,G=S,...",
                   help="mixture: per-group target shares of the budget, "
                        "e.g. en=0.5,zh=0.25")
    p.add_argument("--token_budget", type=int, default=None)
    return p


def run_dataset(argv) -> int:
    import json

    a = build_dataset_parser().parse_args(argv)
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("filtlong_spark_dataset")
    if a.master:
        b = b.master(a.master)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from .operators import sampling

    docs = spark.read.parquet(a.input)
    if a.op == "split":
        out = sampling.split_assign(docs, key=a.key,
                                    train_pct=a.train_pct,
                                    val_pct=a.val_pct)
    elif a.op == "buckets":
        if not a.score_col:
            raise ValueError("Error: buckets requires --score_col")
        labels = (sampling.DEFAULT_BUCKET_LABELS if a.n_buckets == 3
                  else tuple(f"b{i + 1}" for i in range(a.n_buckets)))
        out = sampling.quality_buckets(
            docs, a.score_col, lang_col=a.group_col, key=a.key,
            n_buckets=a.n_buckets, labels=labels, algorithm=a.algorithm)
    elif a.op == "pack":
        out = sampling.pack_sequences(docs, a.capacity,
                                      group_col=a.group_col, key=a.key)
    else:  # mixture
        if not a.shares or a.token_budget is None:
            raise ValueError(
                "Error: mixture requires --shares and --token_budget")
        shares = {}
        for part in a.shares.split(","):
            g, _, s = part.partition("=")
            if not g or not s:
                raise ValueError(f"Error: bad --shares entry {part!r}")
            shares[g] = float(s)
        out = sampling.mixture_sample(docs, shares, a.token_budget,
                                      group_col=a.group_col, key=a.key)
    out.write.mode("overwrite").parquet(a.out_dir)
    n = spark.read.parquet(a.out_dir).count()
    print(json.dumps({"op": a.op, "rows": n, "out_dir": a.out_dir}),
          file=sys.stderr)
    return 0


def main(argv=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "dataset":
        try:
            return run_dataset(argv[1:])
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 1
    if argv and argv[0] == "web":
        try:
            return run_web(argv[1:])
        except (ValueError, FileNotFoundError, RuntimeError) as e:
            # RuntimeError: resume-safety refusals (torn checkpoint chain,
            # manifest mismatch) and connected-components non-convergence
            # keep the reference-style 'Error: ...' stderr + exit-1 contract
            print(str(e), file=sys.stderr)
            return 1
    a = build_parser().parse_args(argv)
    if a.version:
        print(VERSION)
        return 0
    if not a.input_reads:
        print("Error: no input reads provided", file=sys.stderr)
        return 1
    try:
        return _run(a)
    except (ValueError, FileNotFoundError, RuntimeError) as e:
        # ConfigError is a ValueError; RuntimeError covers checkpoint-chain
        # refusals so every failure keeps the 'Error: ...' contract
        print(str(e), file=sys.stderr)
        return 1


def _run(a) -> int:
    cfg = _build_config(a)

    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("filtlong_spark")
    if a.master:
        b = b.master(a.master)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from .functions import report
    from .plans import fastx_pipeline as fp
    from .sources import fastx

    reads = fastx.read_fastx(spark, a.input_reads)
    assembly = fastx.read_fastx(spark, a.assembly) if a.assembly else None
    refs = [p for p in (a.short_1, a.short_2) if p]
    ref_reads = None
    if refs:
        dfs = [fastx.read_fastx(spark, p) for p in refs]
        ref_reads = dfs[0] if len(dfs) == 1 else dfs[0].unionByName(dfs[1])

    res = fp.run_filtlong(spark, reads, cfg, assembly=assembly,
                          ref_reads=ref_reads)

    if a.verbose:
        rows = (res.reads2
                .orderBy("file", "rec_idx", "child_start").collect())
        for ln in report.verbose_read_info(rows, name_col="name",
                                           parent_col="parent_name"):
            print(ln, file=sys.stderr)
        print("", file=sys.stderr)
        for ln in report.verbose_scores_table(rows, name_col="name"):
            print(ln, file=sys.stderr)

    kept_chars = (res.reads2.filter("passed")
                  .agg({"n_chars": "sum"}).collect()[0][0]) or 0
    passed_chars = (res.reads2.filter("hard_passed")
                    .agg({"n_chars": "sum"}).collect()[0][0]) or 0
    for ln in report.filter_summary(res.target, res.total_bases,
                                    passed_chars, int(kept_chars)):
        print(ln, file=sys.stderr)

    if a.out_dir:
        fp.write_fastx(res, a.out_dir)
    else:
        sys.stdout.write("".join(fp.to_fastx_lines(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
