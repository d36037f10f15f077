"""ngram_repetition_stats: the character-grain Gopher repetition
signals (top-n-gram char share, duplicate-n-gram char coverage) on
hand-checkable fixtures. The oracle row (repetition_ngrams) asserts
bit-exactness vs DuckDB at sf0.01; these pin the SEMANTICS on tiny
known-value docs."""

from filtlong_spark.functions import textstats as ts


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_repetition_known_values(spark):
    # "a b c a b c a b c" -> top 3-gram "a b c" (len 5) occurs 3x
    # (overlapping windows "b c a", "c a b" occur 2x each); text len 17.
    text = "a b c a b c a b c"
    out = ts.ngram_repetition_stats(_df(spark, [(1, text)])).collect()[0]
    assert out["top_gram"] == "a b c"
    assert out["top_3gram_pct"] == 100.0 * 3 * 5 / len(text)
    # 5-gram windows: "a b c a b" x2, "b c a b c" x2, "c a b c a" x1 ->
    # dup chars = (2-1)*9 + (2-1)*9 = 18; the overlap-insensitive
    # rendering can exceed 100% on pathological repetition — by design
    # (it counts each repeated window's chars, not a span union)
    assert out["dup_5gram_pct"] == 100.0 * 18 / len(text)


def test_ngram_repetition_dup_five_grams(spark):
    # the same 5-token phrase twice, separated by a unique token:
    # "x1 x2 x3 x4 x5" (len 14) repeats once beyond its first occurrence
    text = "x1 x2 x3 x4 x5 q x1 x2 x3 x4 x5"
    out = ts.ngram_repetition_stats(_df(spark, [(7, text)])).collect()[0]
    assert out["dup_5gram_pct"] == 100.0 * 1 * 14 / len(text)


def test_ngram_repetition_tie_breaks_to_smallest_gram(spark):
    # "b b b" and "a a a" both occur once as 3-grams in "b b b a a a"?
    # No — craft equal counts: "z z z y y y z z z y y y" gives
    # "z z z" 2x? windows overlap; simpler: two disjoint repeated grams
    # with equal counts -> min(gram) wins deterministically.
    text = "p q r s p q r s"
    out = ts.ngram_repetition_stats(_df(spark, [(3, text)])).collect()[0]
    # 3-gram counts: "p q r" 2x, "q r s" 2x, "r s p" 1x, "s p q" 1x
    assert out["top_gram"] == "p q r"
    assert out["top_3gram_pct"] == 100.0 * 2 * 5 / len(text)


def test_ngram_repetition_short_and_empty_docs(spark):
    rows = [(1, ""), (2, "one two"), (3, "one two three four")]
    out = {r["doc_id"]: r
           for r in ts.ngram_repetition_stats(_df(spark, rows)).collect()}
    assert len(out) == 3
    for i in (1, 2):
        assert out[i]["top_gram"] == ""
        assert out[i]["top_3gram_pct"] == 0.0
        assert out[i]["dup_5gram_pct"] == 0.0
    assert out[3]["top_gram"] == "one two three"
    assert out[3]["dup_5gram_pct"] == 0.0
