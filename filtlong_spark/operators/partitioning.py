"""Host-grain operators over web pages: the host of a url, the
data-derived host quality gate, temperature-damped per-host sampling and
the UT1-style deny-list gate.

Web crawls are host-skewed (Zipf), so a groupBy or join keyed by raw
host rows would put a hot host on one task. None of these operators
does that: the host aggregates are partial (each partition collapses to
one row per distinct host before the exchange) and the host-grain
result, one row per host, joins back by broadcast. AQE's skew-join
splitting (spark.sql.adaptive.skewJoin.enabled) covers any other join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def host_of(url_col) -> "F.Column":
    """Lower-cased host of an http(s) url: the authority up to the first
    '/', '?' or '#', without userinfo or port; the scheme matches in any
    case. "" when the url is not http(s)."""
    return F.lower(F.regexp_extract(
        url_col, r"(?i)^https?://(?:[^/?#]*@)?([^/?#:]*)", 1))


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
    it broadcasts (UT1 is ~100 MB of hostnames) and the probe is a
    map-only hash join; the word rules are a Catalyst contains-chain over
    the text already in the scan — zero shuffle end to end. Mirrored exactly by
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
