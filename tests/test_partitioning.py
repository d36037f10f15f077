"""Host-grain operators: quality gate, per-host sampling, deny list."""

from pyspark.sql import functions as F

from filtlong_spark.operators import partitioning as pt


def test_host_quality_gate_cuts_bad_domain(spark):
    """Host-level gate: every doc of a low-quality domain drops, even
    pages that would pass a per-doc threshold; good-domain docs keep."""
    rows = []
    for i in range(10):
        rows.append((i, "the fast sort join hash", "en", "good.com", 23))
    for i in range(10, 20):
        # 9 junk pages + 1 clean page on the spam domain: the clean page
        # must STILL drop (host-level semantics)
        text = "the fast sort join hash" if i == 10 else "zz xx qq ww vv"
        rows.append((i, text, "en", "spam.com", len(text)))
    rows.append((20, "   ", "en", "good.com", 3))  # zero-token doc
    # a host whose docs ALL tokenize empty: 0/0 must yield a CONCRETE
    # keep=False (host_mean_q 0.0), not a NULL silently dropped by
    # filter(keep) — the ADVICE r4 divergence vs DuckDB NaN semantics
    rows.append((21, "", "en", "void.com", 0))
    rows.append((22, " \t ", "en", "void.com", 3))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    vocab = ["the", "fast", "sort", "join", "hash"]
    out = {r["doc_id"]: (r["host"], r["keep"])
           for r in pt.host_quality_gate(df, vocab, 50.0).collect()}
    assert all(out[i] == ("good.com", True) for i in range(10))
    assert all(out[i] == ("spam.com", False) for i in range(10, 20))
    # a token-less doc still gets its host's verdict (not dropped)
    assert out[20] == ("good.com", True)
    # all-zero-token host: keep is a concrete False, never NULL
    assert out[21] == ("void.com", False)
    assert out[22] == ("void.com", False)
    assert len(out) == 23


def test_host_temperature_sample_damps_hot_host(spark):
    """A 200-doc host is sampled at p=sqrt(10/200)~0.22 while a 5-doc
    host keeps everything (p_keep clamped to 1.0); the draw is
    deterministic across invocations."""
    import pytest
    rows = ([(i, "t", "hot") for i in range(200)]
            + [(1000 + i, "t", "cold") for i in range(5)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")
    out = pt.host_temperature_sample(docs, 10, alpha=0.5)
    agg = {r["host"]: r for r in
           out.groupBy("host").agg(
               F.count("*").alias("n"),
               F.sum(F.col("sampled").cast("int")).alias("kept"),
               F.min("p_keep").alias("p")).collect()}
    assert agg["cold"]["p"] == 1.0 and agg["cold"]["kept"] == 5
    assert abs(agg["hot"]["p"] - (10 / 200) ** 0.5) < 1e-12
    # md5 uniforms: kept count concentrates near n*p (binomial-ish bound)
    assert 20 <= agg["hot"]["kept"] <= 70
    # deterministic: same rows sampled on a second evaluation
    first = {r["doc_id"] for r in out.filter("sampled").collect()}
    second = {r["doc_id"] for r in out.filter("sampled").collect()}
    assert first == second
    with pytest.raises(ValueError):
        pt.host_temperature_sample(docs, 10, alpha=0.3)


def test_blocklist_gate_rules(spark):
    """Host rule and word rule fire independently; keep = neither; the
    deny-list reaches the probe as a broadcast."""
    docs = spark.createDataFrame(
        [(1, "clean words here", "good.com"),
         (2, "clean words here", "evil.com"),          # host rule
         (3, "win at the CASINO now", "good.com"),     # word rule (case)
         (4, "casino text", "evil.com")],              # both
        "doc_id long, text string, source string")
    blocked = spark.createDataFrame([("evil.com",)], "host string")
    out = {r["doc_id"]: r for r in
           pt.blocklist_gate(docs, blocked, ("casino",)).collect()}
    assert out[1]["keep"] and not out[1]["blocked_host"] \
        and not out[1]["blocked_word"]
    assert out[2]["blocked_host"] and not out[2]["blocked_word"] \
        and not out[2]["keep"]
    assert out[3]["blocked_word"] and not out[3]["blocked_host"] \
        and not out[3]["keep"]
    assert out[4]["blocked_host"] and out[4]["blocked_word"] \
        and not out[4]["keep"]
    plan = (pt.blocklist_gate(docs, blocked, ("casino",))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
