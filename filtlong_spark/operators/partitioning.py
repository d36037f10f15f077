"""Partitioning & skew utilities (north_star: salted repartitioning on
url-hash to defuse host-level skew + explicit shuffle-partition tuning).

Web crawls are host-skewed (Zipf): any groupBy/join keyed by host (or a
prefix of url) concentrates hot hosts onto single tasks. Remedies, in
preference order:

1. AQE skew-join splitting (spark.sql.adaptive.skewJoin.enabled) — free,
   joins only.
2. Salted repartition (here): spread rows of the same key over
   ``n_salts`` buckets via xxhash64(url, salt); aggregations then run
   partial-per-salt -> final-per-key (two-stage agg).
3. Pre-bucketed tables (Iceberg bucket(url, N) partition spec) for
   repeated co-located joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def host_of(url_col) -> "F.Column":
    return F.regexp_extract(url_col, r"^https?://([^/]+)/", 1)


def with_salt(df: DataFrame, key: str = "host", n_salts: int = 16,
              salt_from: str | None = "url") -> DataFrame:
    """Salt column in [0, n_salts) that VARIES WITHIN a key.

    The salt must come from something finer-grained than ``key`` — a pure
    function of the key itself assigns every row of a hot key the same
    salt and spreads nothing. Two sources:

    - ``salt_from=<col>``: pmod(xxhash64(key, salt_from), n) — fully
      deterministic (repeatable across retries/resumes); requires a payload
      column with per-row variation (url under a host key, doc_id, text).
    - ``salt_from=None``: cycle on the per-partition row counter
      (monotonically_increasing_id mod n) — shuffle-free and works even
      when rows of a key are bit-identical. Stable on task retry when the
      input is a deterministic scan (parquet splits replay identically);
      NOT stable if an upstream shuffle's partitioning changes (AQE
      coalescing between runs), so prefer a payload column for resumable
      jobs.
    """
    if salt_from is not None:
        salt = F.pmod(F.xxhash64(F.col(key), F.col(salt_from)),
                      F.lit(n_salts))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    return df.withColumn("_salt", salt.cast("int"))


def repartition_salted(df: DataFrame, n_partitions: int,
                       key: str = "host", n_salts: int = 16,
                       salt_from: str | None = "url") -> DataFrame:
    """Hash-repartition on (key, salt) — same-key rows spread over up to
    n_salts distinct shuffle targets, defusing single-host hot spots.
    Downstream aggregations must run two-stage (partial per (key, salt),
    final per key) exactly like skew_aware_host_agg."""
    return with_salt(df, key, n_salts, salt_from).repartition(
        n_partitions, F.col(key), F.col("_salt"))


def host_quality_gate(docs: DataFrame, vocab,
                      min_host_mean_q: float,
                      host_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """HOST-level quality filtering (the UT1-blocklist / domain-filter
    stage of a crawl pipeline, derived from data instead of a list):
    per-host mean token quality over the whole corpus decides keep/drop
    for every document of that host — low-quality domains (spam farms,
    SEO link mills) are cut wholesale even when individual pages squeak
    past per-doc thresholds.

    Scale shape: one map-only token-stats pass at doc grain, a host-grain
    re-aggregate (rows = distinct hosts, tiny), and an AQE-broadcast
    join back to doc grain — host skew never concentrates load because
    the per-host row is built by partial aggregation, not by grouping
    raw docs onto one task. Returns (doc_id, host, host_mean_q, keep).
    Exact integer-count ratios -> mirrored bit-for-bit by the
    host_gate DuckDB oracle."""
    from ..functions import textstats as ts
    # doc-grain token counting is map-only (textstats.token_stats — no
    # explode exchange); zero-token docs emit no stats row,
    # so rejoin the doc list for EVERY doc's verdict (and oracle row
    # counts)
    st = ts.token_stats(docs, vocab)
    per_doc = (docs.select("doc_id", F.col(host_col).alias("host"))
               .join(st.select("doc_id",
                               F.col("n_tokens").alias("n_tok"),
                               F.col("good_tokens").alias("good")),
                     "doc_id", "left")
               .na.fill({"n_tok": 0, "good": 0}))
    # per_doc is consumed twice (host aggregate + the verdict join):
    # materialize the token-stats pass once (~32 B/doc)
    per_doc = per_doc.localCheckpoint(eager=True)
    # a host whose docs ALL tokenize to zero tokens would divide 0/0:
    # Spark yields NULL (silently dropped by filter(keep)) while DuckDB
    # yields NaN -> keep=false — guard to a concrete 0.0 in BOTH engines
    # (the oracle SQL mirrors this CASE) so `keep` is always boolean.
    host_stats = (per_doc.groupBy("host")
                  .agg(F.when(F.sum("n_tok") > 0,
                              100.0 * F.sum("good") / F.sum("n_tok"))
                       .otherwise(F.lit(0.0))
                       .alias("host_mean_q")))
    return (per_doc.select("doc_id", "host")
            .join(host_stats, "host")
            .withColumn("keep",
                        F.col("host_mean_q") >= F.lit(min_host_mean_q))
            .select("doc_id", "host", "host_mean_q", "keep"))


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 32,
                   sort_cols: tuple[str, ...] | None = None) -> None:
    """Persist ``df`` hash-BUCKETED on ``key`` (+ optionally sorted
    within buckets) — remedy #3 from the module docstring, concretely:
    two tables bucketed the same way equi-join WITHOUT any shuffle
    exchange (Spark trusts the on-disk bucketing as the required
    hash partitioning), which is the repeated-co-located-join shape a
    100 TB pipeline wants for its big fact tables (pages joined to
    per-url scores/labels round after round). The parquet rendering of
    an Iceberg ``bucket(key, N)`` partition spec; saveAsTable uses the
    session catalog's warehouse dir (no Hive metastore needed)."""
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def bucketed_join(spark, left_table: str, right_table: str,
                  key: str, how: str = "inner") -> DataFrame:
    """Equi-join two same-bucketed tables on their bucket key: with
    matching bucket counts the plan is SortMergeJoin over the existing
    on-disk layout — zero Exchange on either side (plan-asserted in
    tests/test_partitioning.py). At 10^12 docs this turns every
    score/label/dedup re-join from two corpus-wide shuffles into a
    scan."""
    return spark.table(left_table).join(spark.table(right_table),
                                        key, how)


def skew_aware_host_agg(pages: DataFrame, n_salts: int = 16) -> DataFrame:
    """Two-stage (salted) per-host aggregation: partial per (host, salt),
    final per host — the hot host's rows are reduced by n_salts tasks
    before the single final row. Returns (host, n_docs, chars)."""
    base = (pages.withColumn("host", host_of(F.col("url")))
            .withColumn("_salt",
                        F.pmod(F.xxhash64("url"), F.lit(n_salts)).cast("int")))
    partial = (base.groupBy("host", "_salt")
               .agg(F.count("*").alias("n"),
                    F.sum(F.length("text")).alias("c")))
    return (partial.groupBy("host")
            .agg(F.sum("n").alias("n_docs"), F.sum("c").alias("chars")))


def host_temperature_sample(docs: DataFrame, target_per_host: int,
                            alpha: float = 0.5,
                            host_col: str = "source",
                            key_col: str = "doc_id") -> DataFrame:
    """Temperature-damped per-host downsampling — the 'domain mixing'
    stage of a training-data pipeline: over-represented hosts are
    downsampled toward ``target_per_host`` docs with exponent ``alpha``
    (alpha=1 -> proportional cap, alpha=0.5 -> sqrt damping, the common
    'flatten the Zipf head without erasing it' setting). Returns
    (doc_id, host, n_host, p_keep, sampled) for EVERY input doc:
    p_keep = min(1, (target/n_host)^alpha) and sampled is decided by a
    deterministic per-doc uniform (md5 of the doc key, 60-bit prefix /
    2^60) — reproducible across runs, cluster sizes, and engines.

    alpha is restricted to {1.0, 0.5, 0.25} so the exponent is computed
    with division + sqrt only (both correctly-rounded IEEE ops, so the
    DuckDB oracle matches p_keep bit-for-bit; libm pow() is NOT
    correctly rounded and differs across engines).

    Scale shape: one key-only host count (partial agg collapses each
    partition to rows-per-distinct-host before the exchange), broadcast
    back to doc grain, then a map-only md5 comparison — no doc-grain
    shuffle, no text movement."""
    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError("alpha must be 1.0, 0.5 or 0.25 (sqrt-chain "
                         "exponents; pow() is not cross-engine exact)")
    counts = (docs.groupBy(F.col(host_col).alias("host"))
              .agg(F.count("*").alias("n_host")))
    ratio = F.lit(float(target_per_host)) / F.col("n_host")
    damped = ratio
    a = alpha
    while a < 1.0:
        damped = F.sqrt(damped)
        a *= 2.0
    p_keep = F.least(F.lit(1.0), damped)
    u01 = (F.conv(F.substring(
               F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
               16, 10).cast("long") / F.lit(float(1 << 60)))
    return (docs.select(key_col, F.col(host_col).alias("host"))
            .join(F.broadcast(counts), "host")
            .select(key_col, "host", "n_host",
                    p_keep.alias("p_keep"),
                    (u01 < p_keep).alias("sampled")))


def blocklist_gate(docs: DataFrame, blocked_hosts: DataFrame,
                   blocked_words: tuple[str, ...] = (),
                   host_col: str = "source",
                   text_col: str = "text",
                   key_col: str = "doc_id",
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """UT1-style blocklist gate — the externally-supplied deny-list
    stage (Universite Toulouse 1 blacklists in C4/RefinedWeb/FineWeb):
    a doc is dropped when its host appears in ``blocked_hosts`` (a
    one-column DataFrame(host)) OR its text contains any of
    ``blocked_words`` (lower-cased substring match, the word-filter
    category). Returns (doc_id, host, blocked_host, blocked_word, keep)
    for EVERY input doc, keep = neither rule fired, followed by the
    ``carry`` columns of the input passed through unchanged.

    Scale shape: the deny list is millions of domains vs 10^12 docs, so
    it broadcasts (UT1 is ~100 MB of hostnames; above the broadcast
    budget, write_bucketed both sides on host instead — same pattern as
    refset.py's documented spill path) and the probe is a map-only hash
    join; the word rules are a Catalyst contains-chain over the text
    already in the scan — zero shuffle end to end. Mirrored exactly by
    the blocklist DuckDB oracle."""
    hosts = (blocked_hosts.select(F.col(blocked_hosts.columns[0])
                                  .alias("host"))
             .distinct().withColumn("_blk", F.lit(True)))
    lowered = F.lower(F.col(text_col))
    word_hit = F.lit(False)
    for w in blocked_words:
        word_hit = word_hit | lowered.contains(w.lower())
    return (docs.select(key_col, F.col(host_col).alias("host"),
                        word_hit.alias("blocked_word"), *carry)
            .join(F.broadcast(hosts), "host", "left")
            .select(key_col, "host",
                    F.coalesce("_blk", F.lit(False)).alias("blocked_host"),
                    "blocked_word",
                    (~(F.coalesce("_blk", F.lit(False))
                       | F.col("blocked_word"))).alias("keep"), *carry))
