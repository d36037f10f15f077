"""quality_classifier: the model-based gate slot (fastText/DCLM
analog). The clf_score oracle row asserts bit-exact doubles vs DuckDB;
these pin the semantics — every doc scored, guarded divides, and the
offline fit_weights -> literal-fold -> map-only scoring loop actually
separates classes."""

import re

from filtlong_spark.functions.textstats import STOPWORDS
from filtlong_spark.operators import classifier as clf

VOCAB = ("alpha", "beta", "gamma", "delta")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_every_doc_scored_including_degenerate(spark):
    rows = [(1, "alpha beta gamma delta alpha the of"),
            (2, ""),                      # zero chars
            (3, "   "),                   # zero tokens, nonzero chars
            (4, "$$$ %%% ^^^ &&& ***")]   # symbol soup
    out = {r["doc_id"]: r for r in
           clf.quality_classifier(_df(spark, rows), VOCAB).collect()}
    assert len(out) == 4
    for i in (2, 3):
        for f in clf.FEATURES:
            assert out[i][f] == 0.0
        assert out[i]["clf_score"] == clf.DEFAULT_WEIGHTS["bias"]
    assert out[1]["keep"] and out[1]["clf_score"] > 0
    assert not out[4]["keep"]  # symbol ratio drags the logit down


def test_score_matches_manual_chain(spark):
    rows = [(9, "alpha beta the zz zz")]
    r = clf.quality_classifier(_df(spark, rows), VOCAB).collect()[0]
    w = clf.DEFAULT_WEIGHTS
    manual = w["bias"]
    for f in clf.FEATURES:
        manual = manual + w[f] * r[f]
    assert r["clf_score"] == manual


def test_fit_weights_separates_and_feeds_scorer(spark):
    """Offline training loop: synthetic good docs (vocab-rich prose)
    vs bad docs (repetitive symbol soup) -> lstsq weights -> the scorer
    run with THOSE weights splits the classes at threshold 0."""
    good = [(i, f"alpha beta the gamma of delta w{i} is beta to gamma")
            for i in range(20)]
    bad = [(100 + i, "$$$ zz zz zz zz $$$ !!! zz zz") for i in range(20)]
    df = _df(spark, good + bad)
    feats = clf.classifier_features(df, VOCAB).collect()
    X = [[r[f] for f in clf.FEATURES] for r in feats]
    y = [1.0 if r["doc_id"] < 100 else 0.0 for r in feats]
    w = clf.fit_weights(X, y)
    out = clf.quality_classifier(df, VOCAB, weights=w).collect()
    for r in out:
        assert r["keep"] == (r["doc_id"] < 100), r
    # determinism: refit gives identical coefficients
    assert clf.fit_weights(X, y) == w


def _reference_row(doc_id, text):
    """Pure-Python reference for one output row: ASCII \\S+ tokens
    (Java and RE2 treat \\s as ASCII-only) and the same guarded
    ratios and left-associative logit chain as the engine."""
    t = text or ""
    toks = re.findall(r"\S+", t, re.ASCII)
    n = len(toks)

    def ratio(num, den):
        return num / den if den > 0 else 0.0

    feats = {
        "mean_word_len": ratio(sum(len(x) for x in toks), n),
        "stopword_frac": ratio(sum(x in STOPWORDS for x in toks), n),
        "vocab_frac": ratio(sum(x in VOCAB for x in toks), n),
        "symbol_ratio": ratio(len(re.sub("[A-Za-z0-9 ]", "", t)), len(t)),
        "dup_frac": 1.0 - len(set(toks)) / n if n else 0.0,
    }
    w = clf.DEFAULT_WEIGHTS
    logit = w["bias"]
    for f in clf.FEATURES:
        logit = logit + w[f] * feats[f]
    return (doc_id, *(feats[f] for f in clf.FEATURES), logit, logit >= 0.0)


def test_features_match_python_reference(spark):
    """The map-only feature pass reproduces the pure-Python reference
    bit-for-bit across varied shapes: unicode, symbols, repeated
    tokens, empties, whitespace-only, non-BMP chars and NULL text."""
    rows = [(1, "alpha beta the of gamma delta"),
            (2, ""), (3, "   \t  "),
            (4, "z" * 50), (5, "a b c d e f g a b c"),
            (6, "naïve café — em-dash …unicode №"),
            (7, "$$$ alpha $$$ beta %%%"),
            (8, "the the the the the"),
            # Unicode whitespace: NBSP / ideographic space / line sep are
            # TOKEN chars under ASCII \S (Java + RE2 semantics), not
            # separators (Python's default Unicode \s)
            (9, "alpha\u00a0beta gamma\u3000delta the\u2028of"),
            # non-BMP: one char each, though Java strings hold each as
            # a surrogate pair
            (10, "\U0001d518\U0001d52b\U0001d526 alpha"),
            (11, None)]
    got = {r["doc_id"]: tuple(r) for r in
           clf.quality_classifier(_df(spark, rows), VOCAB).collect()}
    assert got == {i: _reference_row(i, t) for i, t in rows}


def test_plan_is_one_python_map_without_join(spark):
    """Features come from ONE Arrow map over the input — no aggregate
    joined back to a second scan of the same docs."""
    df = clf.quality_classifier(_df(spark, [(1, "alpha beta")]), VOCAB)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [re.sub(r"^[\s:+\-]*", "", ln).split(" ")[0]
             for ln in plan.splitlines()]
    assert "Join" not in nodes, plan
    assert sum(n.startswith("MapIn") or "Python" in n
               for n in nodes) == 1, plan
