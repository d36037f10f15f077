"""Bigram-LM quality mode (KenLM-style perplexity slot)."""

import pytest

from filtlong_spark import core
from filtlong_spark import fixtures as fx
from filtlong_spark import oracle
from filtlong_spark.config import FilterConfig
from filtlong_spark.plans.pipeline import run_filter


def test_bigram_counts_and_prob():
    c2, c1, total = core.build_bigram_lm([["a", "b", "a", "b"], ["a", "c"]])
    assert c1 == {"a": 3, "b": 2, "c": 1} and total == 6
    assert c2 == {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}
    assert core.bigram_prob("a", "b", c2, c1, total) == 2 / 3
    assert core.bigram_prob(None, "a", c2, c1, total) == 3 / 6
    # unseen bigram -> unigram backoff
    assert core.bigram_prob("c", "a", c2, c1, total) == 0.4 * (3 / 6)
    # unseen token -> epsilon
    assert core.bigram_prob("a", "zzz", c2, c1, total) == 1 / 60


def test_bigram_quality_threshold():
    c2, c1, total = core.build_bigram_lm([["a", "b"] * 50])
    q = core.bigram_quality(["a", "b", "zzz"], c2, c1, total, threshold=0.01)
    assert list(q) == [1.0, 1.0, 0.0]


def test_doc_perplexity_orders_docs():
    corpus = [["the", "fast", "sort"] * 20]
    c2, c1, total = core.build_bigram_lm(corpus)
    good = core.doc_perplexity(["the", "fast", "sort"], c2, c1, total)
    bad = core.doc_perplexity(["zq", "xv", "kk"], c2, c1, total)
    assert good < bad


def test_pipeline_bigram_mode_matches_oracle(spark):
    rows = fx.sort_suite()
    ref = fx.ref_corpus(noisy=True)
    cfg = dict(min_length=1, mode="bigram_lm", keep_percent=90.0)
    res_o = oracle.run_pipeline(rows, FilterConfig(**cfg), ref_rows=ref)
    res_s = run_filter(spark, fx.to_spark_df(spark, rows),
                       FilterConfig(**cfg),
                       ref_pages=fx.to_spark_df(spark, ref))
    got = sorted((r["url"], r["mean_q"], r["window_q"], r["final_score"])
                 for r in res_s.kept.collect())
    exp = sorted((d.url, d.mean_q, d.window_q, d.final_score)
                 for d in res_o.kept)
    assert got == exp and len(got) > 0


def _lm_kept(res):
    return sorted((r["url"], r["n_chars"], r["mean_q"], r["window_q"],
                   r["final_score"]) for r in res.kept.collect())


@pytest.mark.parametrize("strategy", ["distributed", "broadcast"])
def test_pipeline_bigram_scrub_matches_oracle(spark, strategy):
    """Full LM pipeline (trim+split+pii+langid) == pure-Python oracle, for
    BOTH physical strategies (joins vs broadcast payload)."""
    rows = fx.volume(sf=0.0002)
    ref = fx.ref_corpus(noisy=True)
    cfg = dict(min_length=50, mode="bigram_lm", keep_percent=80.0,
               trim=True, split=40, pii_scrub=True,
               langid_enabled=True, langid_expected="en")
    res_o = oracle.run_pipeline(rows, FilterConfig(**cfg), ref_rows=ref)
    res_s = run_filter(spark, fx.to_spark_df(spark, rows),
                       FilterConfig(**cfg, lm_strategy=strategy),
                       ref_pages=fx.to_spark_df(spark, ref))
    got = _lm_kept(res_s)
    exp = sorted((d.url, d.n_chars, d.mean_q, d.window_q, d.final_score)
                 for d in res_o.kept)
    assert got == exp and len(got) > 0


def _corpus_pairs(rows):
    """The distinct (prev, tok) pairs of ``rows`` (prev "" at doc start),
    from the scalar tokenizer."""
    pairs = set()
    for r in rows:
        toks = [t for t, _, _ in core.tokenize(r["text"] or "")]
        pairs.update(zip([""] + toks[:-1], toks))
    return pairs


def _spy(monkeypatch, mod, name, calls):
    """Wrap mod.name so each call's return value lands in calls[name]."""
    fn = getattr(mod, name)

    def spy(*args, **kwargs):
        out = fn(*args, **kwargs)
        calls.setdefault(name, []).append(out)
        return out
    monkeypatch.setattr(mod, name, spy)


def test_lm_distributed_no_model_collect(spark, monkeypatch):
    """Neither distributed sub-path collects a model table. The verdict
    path collects one flags byte per distinct (prev, tok) pair of the
    SCORED corpus — fewer entries than the reference model's c1 + c2e —
    and its scoring plan holds no join; with the bound at 0 the token
    join runs, and its plan holds the count-table joins."""
    from filtlong_spark.operators import lm as lm_op
    ref_rows = fx.ref_corpus(noisy=True)
    ref = fx.to_spark_df(spark, ref_rows)
    rows = fx.sort_suite()
    pages = fx.to_spark_df(spark, rows)
    cfg = FilterConfig(min_length=1, mode="bigram_lm")
    calls = {}
    _spy(monkeypatch, lm_op, "lm_verdicts", calls)
    decision = {}
    reads2 = lm_op.score_and_scrub_distributed(spark, pages, cfg, ref,
                                               decision=decision)
    keys, flags = calls["lm_verdicts"][0]
    exp = {p + " " + t for p, t in _corpus_pairs(rows)}
    assert sorted(keys) == sorted(exp) and len(flags) == len(exp)
    assert decision == {"lm_path": "verdict_broadcast",
                        "lm_verdict_keys": len(exp),
                        "lm_verdict_max_entries":
                            lm_op.LM_VERDICT_MAX_KEYS}
    tabs = lm_op.lm_count_tables(ref, cfg.lm_min_count)
    n_model = tabs.c1.count() + tabs.c2e.count()
    tabs.release()
    assert len(exp) < n_model, (len(exp), n_model)
    plan = reads2._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    verdict_out = sorted(reads2.collect())
    assert len(verdict_out) == 3 \
        and all(r["n_tokens"] == 1000 for r in verdict_out)

    monkeypatch.setattr(lm_op, "LM_VERDICT_MAX_KEYS", 0)
    reads2 = lm_op.score_and_scrub_distributed(spark, pages, cfg, ref,
                                               decision=decision)
    assert calls["lm_verdicts"][1] is None
    assert decision["lm_path"] == "token_join"
    plan = reads2._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert sorted(reads2.collect()) == verdict_out


def _agreement_rows():
    """Docs that exercise every branch of the shared front and tail: a
    PII email cutting inside a token (both edges), langid-gated German
    and Chinese docs, an empty and a whitespace-only doc, NBSP inside and
    between tokens, a CJK token in English text, and seeded web pages."""
    en = " ".join(sorted(fx.VOCAB)[:20])
    texts = {
        "pii": f"{en} contact reach:bob@mail.example.com;now the {en}",
        "de": core.LANG_SAMPLES["de"],
        "zh": core.LANG_SAMPLES["zh"],
        "empty": "",
        "blank": "  \n\t ",
        "nbsp": f"{en}\u00a0{en} a\u00a0b {en} \u00a0 {en}",
        "cjk": f"{en} 東京 {en} {en}",
        "noise": f"zq1 zq2 zq3 {en} zq4 zq5 zq6 zq7 zq8 zq9 zz1 zz2 {en}",
    }
    rows = [fx._row(f"https://agree.test/{k}", t, idx=i)
            for i, (k, t) in enumerate(texts.items())]
    return rows + fx.volume(sf=0.0002, seed=7)


def test_lm_distributed_sub_paths_agree(spark, monkeypatch):
    """The verdict broadcast and the token join (forced with the bound at
    0) give identical READS2 rows with trim, split, PII and langid on,
    including the fragment rule, gated, empty and non-ASCII docs."""
    from filtlong_spark.operators import lm as lm_op
    rows = _agreement_rows()
    pages = fx.to_spark_df(spark, rows)
    ref = fx.to_spark_df(spark, rows + fx.ref_corpus(noisy=True))
    cfg = FilterConfig(min_length=1, mode="bigram_lm", trim=True, split=20,
                       pii_scrub=True, langid_enabled=True,
                       langid_expected="en")
    tabs = lm_op.lm_count_tables(ref, cfg.lm_min_count)
    calls = {}
    _spy(monkeypatch, lm_op, "make_verdict_mapper", calls)
    _spy(monkeypatch, lm_op, "make_reassemble_mapper", calls)
    outs = []
    for bound in (lm_op.LM_VERDICT_MAX_KEYS, 0):
        monkeypatch.setattr(lm_op, "LM_VERDICT_MAX_KEYS", bound)
        outs.append(sorted(
            tuple(r) for r in lm_op.score_and_scrub_distributed(
                spark, pages, cfg, None, tables=tabs).collect()))
    tabs.release()
    assert len(calls["make_verdict_mapper"]) == 1
    assert len(calls["make_reassemble_mapper"]) == 1
    assert outs[0] == outs[1]
    by_url = {r[0]: r for r in outs[0]}
    cols = list(lm_op.scoring.READS2_COLS)
    ok, kid = cols.index("lang_ok"), cols.index("is_child")
    assert not by_url["https://agree.test/de"][ok]
    assert not by_url["https://agree.test/zh"][ok]
    assert by_url["https://agree.test/empty"][cols.index("n_tokens")] == 0
    # the PII span cuts the (good) token "reach:bob@mail.example.com;now"
    # into the fragments "reach:" and ";now", which end and start the
    # two children
    pii = [r for r in outs[0] if r[cols.index("parent_url")]
           == "https://agree.test/pii"]
    text = rows[0]["text"]
    assert all(r[kid] for r in pii)
    assert [(r[cols.index("child_start")], r[cols.index("child_end")])
            for r in sorted(pii, key=lambda r: r[cols.index("child_start")])
            ] == [(0, text.index("bob@")), (text.index(";now"), len(text))]


def test_lm_decision_recorded_in_metrics_and_lineage(spark, monkeypatch):
    """run_filter records the LM path, the verdict key count and the
    bound in its metrics and lineage.json; the path flips with the
    bound, and a resume reads it back."""
    import json
    import os
    import tempfile

    from filtlong_spark.operators import lm as lm_op
    rows = fx.sort_suite()
    ref = fx.to_spark_df(spark, fx.ref_corpus(noisy=True))
    n_pairs = len(_corpus_pairs(rows))
    seen = []
    for strategy, bound, path, keys in (
            ("distributed", None, "verdict_broadcast", n_pairs),
            ("distributed", 0, "token_join", None),
            ("auto", None, "broadcast", None)):
        if bound is not None:
            monkeypatch.setattr(lm_op, "LM_VERDICT_MAX_KEYS", bound)
        cfg = FilterConfig(min_length=1, mode="bigram_lm", keep_percent=90.0,
                           lm_strategy=strategy)
        ckpt = tempfile.mkdtemp(prefix="lm_decision_")
        exp = {"lm_path": path, "lm_verdict_keys": keys,
               "lm_verdict_max_entries": lm_op.LM_VERDICT_MAX_KEYS}
        res = run_filter(spark, fx.to_spark_df(spark, rows), cfg,
                         ref_pages=ref, checkpoint_dir=ckpt)
        with open(os.path.join(ckpt, "lineage.json")) as f:
            lineage = json.load(f)
        for k, v in exp.items():
            assert res.metrics[k] == v and lineage[k] == v, (k, strategy)
        seen.append(_lm_kept(res))
        resumed = run_filter(spark, fx.to_spark_df(spark, rows), cfg,
                             ref_pages=ref, checkpoint_dir=ckpt)
        assert resumed.resumed
        assert {k: resumed.metrics[k] for k in exp} == exp
        monkeypatch.undo()
    assert seen[0] == seen[1] == seen[2] and len(seen[0]) > 0
    plain = run_filter(spark, fx.to_spark_df(spark, rows),
                       FilterConfig(min_length=1, keep_percent=90.0))
    assert all(plain.metrics[k] is None for k in exp)


def test_lone_surrogate_scores_on_both_lm_painters():
    """A lone surrogate reads as U+FFFD in the token array (the
    tokenizer's offsets do not move), so the broadcast strategy's painter
    scores its batch and the verdict mapper's probe paints it. (The
    verdict mapper's input arrives as Arrow, which cannot carry a lone
    surrogate; its probe is what sees the token array.)"""
    import types

    import numpy as np
    import pandas as pd

    from filtlong_spark.functions import scoring
    from filtlong_spark.operators import lm as lm_op
    texts = ["a \ud800b c"]
    tb = core.batch_tokenize(texts)
    arr = core.batch_token_array(tb)
    arr.validate(full=True)
    assert arr.to_pylist() == ["a", "\ufffdb", "c"]
    assert tb.starts.tolist() == [0, 2, 5] and tb.ends.tolist() == [1, 4, 6]

    cfg = FilterConfig(min_length=1, mode="bigram_lm")
    c2, c1, total = core.build_bigram_lm([arr.to_pylist()])
    bc = types.SimpleNamespace(value=("lm", c2, c1, total, cfg.lm_threshold))
    mapper, _ = scoring.make_reads2_mapper(bc, cfg)
    (out,) = list(mapper(iter([pd.DataFrame({"url": ["u"],
                                             "text": texts})])))
    assert out["n_tokens"].tolist() == [3]
    assert out["mean_q"].tolist() == [100.0]

    keys = pd.Index([" a", "a \ufffdb", "\ufffdb c"], dtype=object)
    flags = lm_op._verdict_flags(tb, keys, np.array([1, 0, 5], np.int8))
    assert flags.tolist() == [1, 0, 5]


def test_lm_mappers_unpickle_without_the_package(tmp_path):
    """Every distributed-LM mapper ships self-contained: a Python process
    that cannot import filtlong_spark (a worker of a consumer that ran
    without --py-files) unpickles each one."""
    import os
    import subprocess
    import sys
    import types

    import numpy as np
    import pandas as pd
    from pyspark import cloudpickle

    from filtlong_spark.operators import lm as lm_op
    cfg = FilterConfig(min_length=1, mode="bigram_lm", trim=True, split=20,
                       pii_scrub=True, langid_enabled=True,
                       langid_expected="en")
    bc = types.SimpleNamespace(value=(pd.Index([" a"], dtype=object),
                                      np.ones(1, np.int8)))
    mappers = [lm_op._pair_mapper, lm_op.make_token_mapper(cfg),
               lm_op.make_reassemble_mapper(cfg, False),
               lm_op.make_verdict_mapper(cfg, False, bc)]
    path = tmp_path / "mappers.pkl"
    path.write_bytes(cloudpickle.dumps(mappers))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    probe = ("import pickle, sys\n"
             "assert 'filtlong_spark' not in sys.modules\n"
             f"ms = pickle.loads(open({str(path)!r}, 'rb').read())\n"
             "assert len(ms) == 4\n")
    done = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path,
                          env=env, capture_output=True, text=True)
    assert done.returncode == 0, done.stderr[-2000:]


def test_lm_auto_strategy_switches_on_model_size(spark):
    """lm_strategy='auto' picks broadcast iff the PRUNED model's entry
    count fits the configured budget — and the auto-resolved pipeline
    matches both explicit strategies."""
    from filtlong_spark.operators import lm as lm_op
    rows = fx.sort_suite()
    ref_rows = fx.ref_corpus(noisy=True)
    ref = fx.to_spark_df(spark, ref_rows)
    cfg = FilterConfig(min_length=1, mode="bigram_lm", keep_percent=90.0)
    # tiny fixture model: far under the default budget -> broadcast
    assert lm_op.choose_strategy(ref, cfg) == "broadcast"
    # squeeze the budget below the model size -> distributed
    assert lm_op.choose_strategy(ref, cfg, max_entries=1) == "distributed"
    assert lm_op.choose_strategy(None, cfg) == "distributed"
    outs = []
    for strategy in ("auto", "distributed", "broadcast"):
        c = FilterConfig(min_length=1, mode="bigram_lm", keep_percent=90.0,
                         lm_strategy=strategy)
        res = run_filter(spark, fx.to_spark_df(spark, rows), c,
                         ref_pages=ref)
        outs.append(_lm_kept(res))
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0


def test_lm_min_count_prunes(spark):
    """lm_min_count > 1: rare bigrams paint as unseen (KenLM-style prune),
    identical across both strategies."""
    rows = fx.sort_suite()
    ref = fx.ref_corpus(noisy=True)
    outs = []
    for strategy in ("distributed", "broadcast"):
        cfg = FilterConfig(min_length=1, mode="bigram_lm", keep_percent=90.0,
                           lm_min_count=3, lm_strategy=strategy)
        res = run_filter(spark, fx.to_spark_df(spark, rows), cfg,
                         ref_pages=fx.to_spark_df(spark, ref))
        outs.append(_lm_kept(res))
    assert outs[0] == outs[1] and len(outs[0]) > 0
