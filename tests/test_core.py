"""Unit tests for the shared kernels (filtlong_spark.core)."""

import numpy as np
import pytest

from filtlong_spark import core


def test_tokenize_offsets():
    toks = core.tokenize("ab  cd e")
    assert toks == [("ab", 0, 2), ("cd", 4, 6), ("e", 7, 8)]
    assert core.tokenize("") == []


def test_mean_quality():
    q = np.array([1.0, 0.0, 1.0, 1.0])
    assert core.mean_quality(q) == 75.0
    assert core.mean_quality(np.zeros(0)) == 0.0


def test_window_quality_short_doc_equals_mean():
    # doc shorter than window -> whole-doc mean (src/read.cpp:217-218)
    q = np.array([1.0, 0.0, 1.0])
    assert core.window_quality(q, 250) == core.mean_quality(q)


def test_window_quality_min_window():
    # window 2 over [1,1,0,0,1]: window means 1, .5, 0, .5 -> min 0
    q = np.array([1.0, 1.0, 0.0, 0.0, 1.0])
    assert core.window_quality(q, 2) == 0.0
    # window 3: means 2/3, 1/3, 1/3 -> min 1/3
    assert core.window_quality(q, 3) == pytest.approx(100 / 3)


def test_window_quality_snap_to_zero():
    # min window mean just below 0.5/window -> snaps to 0 (src/read.cpp:233-234)
    w = 10
    q = np.ones(30)
    q[10:20] = 0.0   # one window fully zero -> 0 < 0.05 -> snap
    assert core.window_quality(q, w) == 0.0
    # one good token in every window: min mean = 0.1 >= 0.05 -> no snap
    q2 = np.zeros(30)
    q2[::10] = 1.0
    assert core.window_quality(q2, w) > 0.0


def test_length_score():
    assert core.length_score(5000) == 50.0
    assert core.length_score(0) == 0.0


def test_window_ratio_zero_mean_policy():
    assert core.window_ratio(0.0, 0.0) == 1.0
    assert core.window_ratio(50.0, 25.0) == 0.5
    assert core.window_ratio(50.0, 80.0) == 1.0


def test_normalize_sigma_zero_policy():
    assert core.normalize_mean_q(80.0, 80.0, 0.0, 80.0, 80.0) == 50.0
    assert core.normalize_mean_q(90.0, 85.0, 5.0, 80.0, 90.0) == 100.0
    assert core.normalize_mean_q(80.0, 85.0, 5.0, 80.0, 90.0) == 0.0


def test_final_score_default_weights():
    # ratio 1 -> plain sqrt geometric mean
    assert core.final_score(50.0, 50.0, 1.0) == 50.0
    # window weight pulls down by (1-wf) + ratio*wf with wf = 1/3
    assert core.final_score(50.0, 50.0, 0.0) == pytest.approx(50.0 * (2 / 3))


def _spans(text, vocab):
    toks = core.tokenize(text)
    q = core.token_quality([t for t, _, _ in toks], vocab)
    return [(s, e, float(q[i])) for i, (_, s, e) in enumerate(toks)]


GOOD = {"good"}


def test_scrub_trim_prefix():
    text = "bad1 bad2 good good good"
    res = core.scrub_spans(text, _spans(text, GOOD), trim=True, split_threshold=None)
    assert res.changed and res.child_spans == [(10, 24)]
    assert text[10:24] == "good good good"


def test_scrub_no_bad_unchanged():
    text = "good good"
    res = core.scrub_spans(text, _spans(text, GOOD), trim=True, split_threshold=None)
    assert not res.changed and res.child_spans == [(0, 9)]


def test_scrub_all_bad_parent_kept():
    # no good tokens -> NO trim ranges -> parent unchanged
    # (src/read.cpp:105-117 with first_base_in_kmer == -1)
    text = "bad bad bad"
    res = core.scrub_spans(text, _spans(text, GOOD), trim=True, split_threshold=None)
    assert not res.changed


def test_scrub_split_threshold_boundary():
    text = "good bad1 bad2 good"   # bad run chars [5,14) = 9 chars
    spans = _spans(text, GOOD)
    assert core.scrub_spans(text, spans, False, 10).changed is False
    res = core.scrub_spans(text, spans, False, 9)
    assert res.changed and res.child_spans == [(0, 5), (14, 19)]


def test_scrub_split_whole_doc_bad_keeps_parent():
    # bad range covers everything -> zero children -> parent kept
    # (src/main.cpp:140-147)
    text = "bad1 bad2"
    res = core.scrub_spans(text, _spans(text, GOOD), False, 1)
    assert not res.changed


def test_child_name():
    assert core.child_name("u", 20, 701) == "u_21-701"


# ---------------------------------------------------------------------------
# Flat (batch) kernels must be BIT-IDENTICAL to the scalar path
# ---------------------------------------------------------------------------

import os

from hypothesis import given, settings

_EXAMPLES = int(os.environ.get('HYP_EXAMPLES', '200'))
from hypothesis import strategies as st

_docs_strategy = st.lists(
    st.lists(st.sampled_from([0.0, 1.0]), min_size=0, max_size=40),
    min_size=0, max_size=12)


@given(docs=_docs_strategy, window=st.integers(1, 12))
@settings(max_examples=_EXAMPLES, deadline=None)
def test_flat_mean_window_matches_scalar(docs, window):
    q_flat = np.array([v for d in docs for v in d], dtype=np.float64)
    counts = np.array([len(d) for d in docs], dtype=np.int64)
    mean, win = core.flat_mean_window(q_flat, counts, window)
    for i, d in enumerate(docs):
        qa = np.array(d, dtype=np.float64)
        assert mean[i] == core.mean_quality(qa)
        assert win[i] == core.window_quality(qa, window)
        r = core.flat_window_ratio(mean, win)
        assert r[i] == core.window_ratio(mean[i], win[i])


_token_strategy = st.lists(
    st.lists(st.sampled_from(
        ["the", "a", "der", "el", "le", "zzz", "und", "q1", "data"]),
        min_size=0, max_size=15),
    min_size=0, max_size=10)


@given(docs=_token_strategy)
@settings(max_examples=_EXAMPLES, deadline=None)
def test_flat_token_quality_and_langid_match_scalar(docs):
    accepted = {"the", "a", "data", "q1"}
    texts = [" ".join(d) for d in docs]
    q = core.flat_token_quality_batch(core.batch_tokenize(texts), accepted)
    exp_q = (np.concatenate([core.token_quality(d, accepted) for d in docs])
             if docs else np.zeros(0))
    assert np.array_equal(q, exp_q)
    pred, conf = core.flat_predict_lang_texts(texts)
    for i, t in enumerate(texts):
        ep, ec = core.predict_lang(t)
        assert pred[i] == ep
        assert conf[i] == ec


_texts_strategy = st.lists(
    st.text(alphabet=st.sampled_from(
        list("ab q1.") + ["\t", "\n", "\x0b", "\x1c", "\x85", "\xa0",
                          "\u3000", "\u2028", "é", "中", "\U0001F600"]),
        min_size=0, max_size=30),
    min_size=0, max_size=8)


@given(texts=_texts_strategy)
@settings(max_examples=_EXAMPLES, deadline=None)
def test_batch_tokenize_matches_scalar(texts):
    tb = core.batch_tokenize(texts)
    flat_exp, starts_exp, ends_exp, doc_exp = [], [], [], []
    for d, t in enumerate(texts):
        for tok, s, e in core.tokenize(t):
            flat_exp.append(tok)
            starts_exp.append(s)
            ends_exp.append(e)
            doc_exp.append(d)
    assert core.batch_token_array(tb).to_pylist() == flat_exp
    assert tb.starts.tolist() == starts_exp
    assert tb.ends.tolist() == ends_exp
    assert tb.doc_of.tolist() == doc_exp
    assert tb.counts.tolist() == [len(core.tokenize(t)) for t in texts]


@given(texts=st.lists(
    st.text(alphabet=list("gb \t."), min_size=0, max_size=60),
    min_size=0, max_size=6),
    trim=st.booleans(), split=st.sampled_from([None, 1, 2, 4, 8]),
    pii=st.booleans())
@settings(max_examples=_EXAMPLES, deadline=None)
def test_batch_scrub_matches_scalar(texts, trim, split, pii):
    """_batch_scrub == per-doc scrub_spans for every doc ('g'-tokens good,
    everything else bad; pii spans via the real patterns)."""
    if not trim and split is None and not pii:
        split = 2
    from filtlong_spark.functions.scoring import _batch_scrub
    # inject an occasional real PII hit
    if pii and texts:
        texts = list(texts)
        texts[0] = texts[0] + " bob@x.io g"
    accepted_is_good = lambda tok: set(tok) <= set("g") and tok  # noqa: E731
    tb = core.batch_tokenize(texts)
    q = np.array([1.0 if accepted_is_good(t) else 0.0
                  for t in core.batch_token_array(tb).to_pylist()])
    gated = np.zeros(len(texts), dtype=bool)
    scrubbed, child_rows = _batch_scrub(tb, q, texts, gated, trim, split, pii)
    for d, t in enumerate(texts):
        toks = core.tokenize(t)
        spans_q = [(s, e, 1.0 if accepted_is_good(tok) else 0.0)
                   for tok, s, e in toks]
        extra = core.pii_spans(t) if pii else None
        res = core.scrub_spans(t, spans_q, trim, split, extra)
        got_children = [(s, e) for dd, s, e in child_rows if dd == d]
        assert bool(scrubbed[d]) == res.changed, (d, t)
        if res.changed:
            assert got_children == res.child_spans, (d, t)
        else:
            assert got_children == []


def test_batch_tokenize_surrogate_fallback():
    """Lone surrogates (surrogateescape upstream) encode with
    surrogatepass as one non-whitespace codepoint: offsets and counts
    equal the scalar tokenizer's."""
    texts = ["ab \ud800cd ef", "plain text"]
    tb = core.batch_tokenize(texts)
    exp = [[(t, s, e) for t, s, e in core.tokenize(x)] for x in texts]
    assert tb.counts.tolist() == [len(d) for d in exp]
    assert tb.starts.tolist() == [s for d in exp for _, s, _ in d]
    assert tb.ends.tolist() == [e for d in exp for _, _, e in d]


def test_pickle_by_value_modules_import():
    """Every module the UDF pickling registry names must exist: the
    registry skips names missing from sys.modules, so a stale entry
    would otherwise go unnoticed."""
    import importlib
    from filtlong_spark.functions.scoring import PICKLE_BY_VALUE_MODULES
    for mod in PICKLE_BY_VALUE_MODULES:
        importlib.import_module(mod)
