"""Differential check of the one tokenizer convention: the Arrow kernels
(core.batch_tokenize and the scorer and shingler built on it) against
Catalyst's regexp_extract_all(text, '\\\\S+', 0) on the same rows.

The seeded corpus mixes ASCII words with every whitespace-like character
where Python-Unicode and Java \\s disagree (NBSP, U+3000, U+001C-U+001F,
U+0085), the Java whitespace that is not a plain space (VT, FF, CR),
multi-byte text (CJK, emoji, accented Latin), and the corner docs:
empty, whitespace-only, one-token, and one 1 MB doc."""

import random

from pyspark.sql import functions as F

from filtlong_spark import core
from filtlong_spark.config import FilterConfig
from filtlong_spark.functions import textstats
from filtlong_spark.operators import dedup, refset as refset_op
from filtlong_spark.operators import score as score_op

_SEPS = [" ", " ", "\t", "\n", "\x0b", "\x0c", "\r", "\xa0", "　",
         "\x1c", "\x1d", "\x1e", "\x1f", "\x85"]
_WORDS = ["the", "data", "q1", "café", "naïve", "Ærø", "中文", "東京",
          "\U0001F600", "a\U0001F680b", "x"]
SHINGLE_N = 3


def _doc(rng, n_tokens):
    parts = []
    for _ in range(n_tokens):
        parts.append(rng.choice(_WORDS))
        parts.append(rng.choice(_SEPS))
    return rng.choice(["", rng.choice(_SEPS)]) + "".join(parts)


def _corpus():
    rng = random.Random(15)
    docs = ["", " \t\n\r\x0b\x0c", "one", "\xa0nbsp\xa0inside\xa0",
            "ideo　graphic　space", "fs\x1cgs\x1drs\x1eus\x1f",
            "nel\x85next", "vt\x0bff\x0ccr\rend", "中文 文本 テスト",
            "emoji \U0001F600\U0001F600 é"]
    docs += [_doc(rng, rng.randint(0, 40)) for _ in range(200)]
    big = []
    while sum(map(len, big)) < 1 << 20:
        big.append(_doc(rng, 64))
    docs.append("".join(big))
    return docs


def _catalyst_tokens(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    rows = df.select("doc_id", textstats.tokens_col().alias("toks")).collect()
    return df, {r["doc_id"]: list(r["toks"]) for r in rows}


def test_batch_tokens_match_catalyst(spark):
    docs = _corpus()
    _, cat = _catalyst_tokens(spark, docs)
    tb = core.batch_tokenize(docs)
    toks = core.batch_token_array(tb).to_pylist()
    off = 0
    for d in range(len(docs)):
        n = int(tb.counts[d])
        assert toks[off:off + n] == cat[d], repr(docs[d][:60])
        assert [docs[d][s:e] for s, e in zip(tb.starts[off:off + n],
                                              tb.ends[off:off + n])] \
            == cat[d]
        off += n
    assert off == len(toks)


def test_scorer_token_counts_match_catalyst(spark):
    docs = _corpus()
    df, cat = _catalyst_tokens(spark, docs)
    accepted = {"the", "data", "café", "中文", "\U0001F600"}
    cfg = FilterConfig(mode="intrinsic", vocab=sorted(accepted))
    bc = refset_op.build_broadcast(spark, cfg, None)
    pages = df.select(F.col("doc_id").cast("string").alias("url"), "text")
    got = {int(r["url"]): r
           for r in score_op.score_and_scrub(pages, cfg, bc).collect()}
    assert len(got) == len(docs)
    for d, toks in cat.items():
        assert got[d]["n_tokens"] == len(toks), repr(docs[d][:60])
        good = sum(t in accepted for t in toks)
        exp_mean = 100.0 * good / len(toks) if toks else 0.0
        assert got[d]["mean_q"] == exp_mean, repr(docs[d][:60])


def test_shingles_match_catalyst(spark):
    docs = _corpus()
    df, cat = _catalyst_tokens(spark, docs)
    got = {}
    for r in dedup._doc_shingles(df, SHINGLE_N).collect():
        got.setdefault(r["doc_id"], set()).add(r["shingle"])
    exp = {}
    for d, toks in cat.items():
        wins = {" ".join(toks[i:i + SHINGLE_N])
                for i in range(len(toks) - SHINGLE_N + 1)}
        if wins:
            exp[d] = wins
    assert got.keys() == exp.keys()
    for d in exp:
        assert got[d] == exp[d], repr(docs[d][:60])
