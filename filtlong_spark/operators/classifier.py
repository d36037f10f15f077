"""Model-based quality classifier — the fastText / DCLM-classifier slot.

Production web pipelines (CCNet, DCLM, FineWeb-Edu) gate documents with a
TRAINED quality model, not only hand rules: a linear classifier over
cheap per-doc features, trained OFFLINE on a labeled sample, whose
coefficients then ship to the cluster as literals. This module renders
that shape exactly:

- ``classifier_features``: ONE map-only Arrow pass (the per-batch body
  of ``textstats.token_stats`` plus char and symbol counts) -> five
  per-doc features. Zero-token / zero-char docs get concrete 0.0
  features (every doc is scored — a classifier gate must not silently
  drop rows). Stateless, so batch and Structured Streaming run the
  same plan.
- ``fit_weights``: the offline training step — closed-form least
  squares on a driver-side labeled sample (numpy lstsq; deterministic,
  no RNG), the same sample-to-driver posture as IVF's k-means training
  in operators/similarity.py. At production scale the sample is a few
  thousand labeled docs; the corpus never leaves the cluster.
- ``quality_classifier``: broadcast-free map-only scoring — the
  weights are plain Python floats folded into the plan as literals, so
  the score is a single codegen'd expression. The linear LOGIT is
  emitted (not a sigmoid): monotone in the probability, and bit-exact
  across engines (each feature is one guarded divide; the combination
  is a fixed left-associative multiply-add chain mirrored term-for-term
  by the DuckDB oracle).

Swap-in point: replace DEFAULT_WEIGHTS with coefficients from a real
fastText / logistic-regression fit; the plumbing (feature pass, literal
fold, keep threshold) is unchanged. Analog of the reference's composite
final-score gate (src/read.cpp:246-253) with learned instead of fixed
weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textstats as ts

# feature order is the contract between fit_weights and the scorer
FEATURES = ("mean_word_len", "stopword_frac", "vocab_frac",
            "symbol_ratio", "dup_frac")

# checked-in stand-in coefficients (documented swap-in for a trained
# model): reward in-vocabulary and stopword-bearing prose, punish
# symbol soup and repetition; bias places the decision boundary so
# clean fixture prose lands positive.
DEFAULT_WEIGHTS = {
    "bias": -3.0,
    "mean_word_len": 0.25,
    "stopword_frac": 2.0,
    "vocab_frac": 4.0,
    "symbol_ratio": -5.0,
    "dup_frac": -2.0,
}


def classifier_features(docs: DataFrame, vocab,
                        key: str = "doc_id") -> DataFrame:
    """(key, mean_word_len, stopword_frac, vocab_frac, symbol_ratio,
    dup_frac) for EVERY input doc in one map-only Arrow pass — no
    aggregate, no join, so it also streams unchanged. Each feature is
    one guarded divide: 0.0 when the denominator is 0 (Spark would
    yield NULL, DuckDB NaN)."""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    vocab_list = sorted(set(vocab))
    stop_list = sorted(set(ts.STOPWORDS))
    token_stats_batch = ts.token_stats_batch  # pickled by value

    def mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        vocab_vs = pa.array(vocab_list, type=pa.string())
        stop_vs = pa.array(stop_list, type=pa.string())

        def ratio(num, den):
            return np.where(den > 0, num / np.maximum(den, 1), 0.0)

        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            n, good, sum_len, stop, n_distinct = token_stats_batch(
                texts, vocab_vs, stop_vs)
            tarr = pa.array(texts, type=pa.string())
            n_chars = pc.utf8_length(tarr).to_numpy()
            # one match per char outside [A-Za-z0-9 ] == the length
            # left after deleting those chars, ~60x cheaper in RE2
            symbols = pc.count_substring_regex(
                tarr, "[^A-Za-z0-9 ]").to_numpy()
            yield pd.DataFrame({
                key: pdf[key],
                "mean_word_len": ratio(sum_len, n),
                "stopword_frac": ratio(stop, n),
                "vocab_frac": ratio(good, n),
                "symbol_ratio": ratio(symbols, n_chars),
                "dup_frac": np.where(n > 0, 1.0 - ratio(n_distinct, n),
                                     0.0)})

    key_type = dict(docs.dtypes)[key]
    schema = f"{key} {key_type}, " + ", ".join(
        f"{f} double" for f in FEATURES)
    return docs.select(key, "text").mapInPandas(mapper, schema=schema)


def quality_classifier(docs: DataFrame, vocab,
                       weights: dict | None = None,
                       threshold: float = 0.0,
                       key: str = "doc_id") -> DataFrame:
    """Score every doc with the linear model and decide keep.
    Returns (key, <features>, clf_score, keep). The logit is built as
    bias + w1*f1 + w2*f2 + ... in FEATURES order — the oracle SQL
    repeats the identical chain, so doubles match bit-for-bit."""
    w = dict(DEFAULT_WEIGHTS if weights is None else weights)
    logit = F.lit(float(w["bias"]))
    for f in FEATURES:
        logit = logit + F.lit(float(w[f])) * F.col(f)
    return (classifier_features(docs, vocab, key)
            .withColumn("clf_score", logit)
            .withColumn("keep", F.col("clf_score") >= F.lit(threshold)))


def weights_from_tuple(t) -> dict:
    """(bias, w_mean_word_len, ..., w_dup_frac) in FEATURES order — the
    flat form FilterConfig.clf_weights carries — back to a dict."""
    vals = tuple(float(x) for x in t)
    if len(vals) != len(FEATURES) + 1:
        raise ValueError(f"need {len(FEATURES) + 1} weights, got {len(vals)}")
    out = {"bias": vals[0]}
    out.update(dict(zip(FEATURES, vals[1:])))
    return out


def fit_weights(features_rows, labels) -> dict:
    """OFFLINE training: least-squares fit of the linear model on a
    labeled sample (rows: sequences in FEATURES order; labels: 1.0 keep
    / 0.0 drop, shifted to +-1 targets). Deterministic (numpy lstsq, no
    RNG). Returns a weights dict consumable by quality_classifier."""
    import numpy as np
    X = np.asarray(features_rows, dtype=np.float64)
    y = np.asarray(labels, dtype=np.float64) * 2.0 - 1.0
    Xb = np.hstack([np.ones((X.shape[0], 1)), X])
    coef, *_ = np.linalg.lstsq(Xb, y, rcond=None)
    out = {"bias": float(coef[0])}
    out.update({f: float(c) for f, c in zip(FEATURES, coef[1:])})
    return out
