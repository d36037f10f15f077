"""Composable dedup pipeline stages (FilterConfig.near_dup_dedup /
line_dedup_min_df): the round-5 composition ask — near-duplicate and
line-boilerplate dedup wired into run_filter as first-class stages, with
quarantine reasons, lineage counters, raw-input budget semantics, and
checkpoint/resume parity.

The reference has no dedup stage (filtlong scores every read it is
given, src/main.cpp:119-226); these stages are the web-pipeline
extension slots, composed BEFORE scoring so dropped docs are never
scored."""

import random

import pytest
from pyspark.sql import functions as F

from filtlong_spark.config import ConfigError, FilterConfig
from filtlong_spark.plans.pipeline import run_filter

VOCAB = frozenset({"AAAA", "CCCC", "GGGG", "TTTT"})
BOILER = "ACCEPT ALL COOKIES TO CONTINUE"


def _corpus(n_distinct=12, with_boiler=True):
    """Deterministic pages: n_distinct clearly-different docs (distinct
    long unique-word tails so neither simhash nor minhash pairs them), a
    planted 3-doc near-dup group, and an optional shared boilerplate
    first line."""
    rng = random.Random(11)
    rows = []
    for i in range(n_distinct):
        # each doc: mostly vocab tokens + a large block of doc-unique
        # words -> far apart in both shingle space and simhash space
        toks = [rng.choice(sorted(VOCAB)) for _ in range(20)]
        toks += [f"w{i}x{j}" for j in range(40)]
        body = " ".join(toks)
        text = (BOILER + "\n" + body) if with_boiler else body
        rows.append((f"https://h{i % 3}.ex.com/p{i}",
                     f"2024-01-01T00:00:{i:02d}", "en", text))
    # near-dup planting mirrors test_dedup's calibration: a rich ~90-token
    # base so one extra token moves the simhash <= 3 bits
    shared = ("AAAA CCCC GGGG TTTT the quick brown fox jumps over the "
              "lazy dog while the fast sort joins the hash table rows "
              "and the merge scan filters the wide column batch " * 3)
    for j in range(3):
        text = shared + ("" if j == 0 else f"tail{j}")
        if with_boiler:
            text = BOILER + "\n" + text
        rows.append((f"https://dup.ex.com/d{j}",
                     f"2024-01-02T00:00:{j:02d}", "en", text))
    return rows


def _pages(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts string, lang string, text string")


def _cfg(**kw):
    base = dict(min_length=10, mode="intrinsic", vocab=VOCAB,
                budget_algorithm="approx")
    base.update(kw)
    return FilterConfig(**base)


def test_line_dedup_stage_strips_boilerplate(spark):
    rows = _corpus()
    res = run_filter(spark, _pages(spark, rows),
                     _cfg(line_dedup_min_df=10))
    kept = res.kept.collect()
    assert kept, "pipeline kept nothing"
    for r in kept:
        assert BOILER not in r["text"]
        assert not r["text"].startswith("\n")
    # non-boilerplate content is preserved byte-for-byte
    by_url = {u: t.split("\n", 1)[1] for (u, _, _, t) in rows}
    for r in kept:
        assert r["text"] == by_url[r["url"]]
    # budget base stays the RAW pre-dedup char count (reference
    # target-vs-raw semantics, src/main.cpp:89)
    assert res.total_input_chars == sum(len(t) for *_, t in rows)


def test_line_dedup_below_min_df_is_noop(spark):
    rows = _corpus()
    res = run_filter(spark, _pages(spark, rows),
                     _cfg(line_dedup_min_df=10 ** 6))
    for r in res.kept.collect():
        assert r["text"].startswith(BOILER + "\n")


@pytest.mark.parametrize("method", ["simhash", "minhash"])
def test_near_dup_stage_quarantines_group(spark, method):
    rows = _corpus(with_boiler=False)
    res = run_filter(spark, _pages(spark, rows),
                     _cfg(near_dup_dedup=method))
    kept_urls = {r["url"] for r in res.kept.collect()}
    dup_kept = {u for u in kept_urls if "dup.ex.com" in u}
    assert len(dup_kept) == 1, f"expected 1 survivor, got {dup_kept}"
    # distinct docs all survive
    assert sum(1 for u in kept_urls if "dup.ex.com" not in u) == 12
    q = {r["url"]: r["reason"] for r in res.quarantine.collect()}
    assert len(q) == 2
    assert set(q.values()) == {f"near_duplicate_{method}"}
    assert res.metrics["near_dup_dropped"] == 2
    # budget base stays the RAW pre-dedup char count — regression for
    # the lazy-localCheckpoint Observation poisoning (a lazy checkpoint
    # inside the LSH pass used to zero this silently)
    assert res.total_input_chars == sum(len(t) for *_, t in rows)
    # the survivor choice is deterministic (min 60-bit url key)
    res2 = run_filter(spark, _pages(spark, rows),
                      _cfg(near_dup_dedup=method))
    assert {r["url"] for r in res2.kept.collect()} == kept_urls


def test_composed_stages_resume_parity(spark, tmp_path):
    """line-dedup + near-dup + checkpoint: a resumed run reproduces the
    survivor set and the line-cleaned text byte-for-byte, and restores
    the near_dup_dropped lineage counter without re-running the LSH."""
    rows = _corpus()
    ck = str(tmp_path / "ck")
    cfg = _cfg(line_dedup_min_df=10, near_dup_dedup="simhash")
    r1 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    k1 = {r["url"]: r["text"] for r in r1.kept.collect()}
    assert r1.metrics["near_dup_dropped"] == 2 and not r1.resumed

    r2 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r2.resumed
    k2 = {r["url"]: r["text"] for r in r2.kept.collect()}
    assert k2 == k1
    assert r2.metrics["near_dup_dropped"] == 2
    for t in k2.values():
        assert BOILER not in t


def test_resume_rejects_changed_dedup_config(spark, tmp_path):
    rows = _corpus(with_boiler=False)
    ck = str(tmp_path / "ck")
    run_filter(spark, _pages(spark, rows), _cfg(near_dup_dedup="simhash"),
               checkpoint_dir=ck)
    with pytest.raises(Exception, match="near_dup_dedup"):
        run_filter(spark, _pages(spark, rows),
                   _cfg(near_dup_dedup="minhash"), checkpoint_dir=ck)


def test_config_validation():
    with pytest.raises(ConfigError, match="near_dup_dedup"):
        FilterConfig(min_length=10, vocab=VOCAB,
                     near_dup_dedup="md5").validate()
    with pytest.raises(ConfigError, match="line_dedup_min_df"):
        FilterConfig(min_length=10, vocab=VOCAB,
                     line_dedup_min_df=1).validate()
    # a dedup stage alone satisfies the at-least-one-threshold rule
    FilterConfig(vocab=VOCAB, near_dup_dedup="simhash").validate()
    FilterConfig(vocab=VOCAB, line_dedup_min_df=2).validate()


def test_web_cli_dedup_flags(capsys, spark, tmp_path):
    import json

    from filtlong_spark import cli
    src = str(tmp_path / "pages_in")
    _pages(spark, _corpus()).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")).write.parquet(src)
    out = str(tmp_path / "web_out")
    rc = cli.main(["web", src, "--out_dir", out, "--min_length", "10",
                   "--near_dup_dedup", "simhash",
                   "--line_dedup_min_df", "10"])
    err = capsys.readouterr().err
    assert rc == 0
    json.loads(err.strip().splitlines()[-1])
    texts = [r["text"] for r in spark.read.parquet(out).collect()]
    assert texts and all(BOILER not in t for t in texts)
    dup_survivors = [r for r in spark.read.parquet(out).collect()
                     if "dup.ex.com" in r["url"]]
    assert len(dup_survivors) == 1


def test_blocklist_stage_quarantines_hosts_and_words(spark):
    """cfg.blocklist_hosts/_words: docs on a deny-listed host or carrying
    a deny-listed word quarantine with reason 'blocklisted' before any
    scoring; the lineage counter records the drop; budget base stays the
    RAW pre-gate char count."""
    rows = _corpus(with_boiler=False)
    # h1.ex.com hosts docs i = 1, 4, 7, 10 (i % 3 == 1) -> 4 docs;
    # plant one word hit in a doc on a clean host
    rows.append(("https://h0.ex.com/spamdoc", "2024-01-03T00:00:00", "en",
                 "AAAA CCCC GGGG TTTT forbiddenword "
                 + " ".join(f"z{j}" for j in range(40))))
    # url shapes whose host is casino.example all the same: no path, a
    # bare query or fragment, scheme or host in upper case, a port,
    # userinfo; the deny list spells the host in mixed case
    casino = ["https://casino.example", "https://casino.example?x=1",
              "http://casino.example#top", "HTTPS://casino.example/a",
              "https://Casino.Example/b", "https://casino.example:443/c",
              "https://user:pw@casino.example/d"]
    rows += [(u, f"2024-01-04T00:00:{k:02d}", "en",
              "AAAA CCCC GGGG TTTT " + " ".join(f"c{k}y{j}"
                                                 for j in range(40)))
             for k, u in enumerate(casino)]
    res = run_filter(spark, _pages(spark, rows),
                     _cfg(blocklist_hosts=("h1.ex.com", "Casino.EXAMPLE"),
                          blocklist_words=("FORBIDDENword",)))
    kept_urls = {r["url"] for r in res.kept.collect()}
    assert not any("h1.ex.com" in u for u in kept_urls)
    assert "https://h0.ex.com/spamdoc" not in kept_urls
    assert not kept_urls & set(casino)
    q = {r["url"]: r["reason"] for r in res.quarantine.collect()}
    assert set(q.values()) == {"blocklisted"}
    assert set(casino) <= set(q)
    n_blocked = 5 + len(casino)
    assert len(q) == n_blocked
    assert res.metrics["blocklist_dropped"] == n_blocked
    assert res.total_input_chars == sum(len(t) for *_, t in rows)
    # large-list path: the same deny list via blocklist_hosts_df
    hosts_df = spark.createDataFrame([("h1.ex.com",), ("CASINO.example",)],
                                     "host string")
    res2 = run_filter(spark, _pages(spark, rows),
                      _cfg(blocklist_words=("forbiddenword",)),
                      blocklist_hosts_df=hosts_df)
    assert {r["url"] for r in res2.kept.collect()} == kept_urls
    assert res2.metrics["blocklist_dropped"] == n_blocked


def test_blocklist_stage_resume_restores_counter(spark, tmp_path):
    rows = _corpus(with_boiler=False)
    ck = str(tmp_path / "ck")
    cfg = _cfg(blocklist_hosts=("h2.ex.com",))
    r1 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    k1 = {r["url"] for r in r1.kept.collect()}
    assert r1.metrics["blocklist_dropped"] == 4 and not r1.resumed
    r2 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r2.resumed
    assert {r["url"] for r in r2.kept.collect()} == k1
    assert r2.metrics["blocklist_dropped"] == 4
    # a different deny list must refuse to resume the stale snapshot
    with pytest.raises(ConfigError):
        run_filter(spark, _pages(spark, rows),
                   _cfg(blocklist_hosts=("h0.ex.com",)), checkpoint_dir=ck)


def test_clf_gate_quarantines_low_logit_docs(spark):
    """cfg.clf_threshold: the model-based gate (DCLM order: after dedup,
    before scoring) quarantines docs whose classifier logit is below
    threshold with reason 'classifier_rejected'; the expected set is
    derived by running the standalone operator on the same pages, so
    the test asserts pipeline COMPOSITION, not re-derived constants."""
    from filtlong_spark.operators import classifier as clf
    rows = _corpus(with_boiler=False)
    rows.append(("https://h0.ex.com/junk", "2024-01-03T00:00:00", "en",
                 "$$$$ %%%% ^^^^ &&&& " * 10))
    pages = _pages(spark, rows)
    thr = -2.0
    expected = {
        r["url"] for r in clf.quality_classifier(
            pages, sorted(VOCAB), threshold=thr, key="url").collect()
        if not r["keep"]}
    assert "https://h0.ex.com/junk" in expected
    assert len(expected) < len(rows)  # the gate separates, not nukes
    res = run_filter(spark, pages, _cfg(clf_threshold=thr))
    q = {r["url"]: r["reason"] for r in res.quarantine.collect()}
    assert set(q) == expected
    assert set(q.values()) == {"classifier_rejected"}
    assert res.metrics["clf_dropped"] == len(expected)
    assert not (expected & {r["url"] for r in res.kept.collect()})
    # budget base stays the RAW pre-gate char count
    assert res.total_input_chars == sum(len(t) for *_, t in rows)


def test_clf_gate_custom_weights_and_resume(spark, tmp_path):
    """clf_weights round-trips through config -> pipeline -> lineage;
    resume restores the counter; a changed threshold refuses the stale
    snapshot."""
    rows = _corpus(with_boiler=False)
    rows.append(("https://h0.ex.com/junk", "2024-01-03T00:00:00", "en",
                 "$$$$ %%%% ^^^^ &&&& " * 10))
    ck = str(tmp_path / "ck")
    # weights that ONLY punish symbol soup: bias 1, all zero except
    # symbol_ratio -10 -> junk logit 1 - 10*~0.75 < 0, others ~1 > 0
    w = (1.0, 0.0, 0.0, 0.0, -10.0, 0.0)
    cfg = _cfg(clf_threshold=0.0, clf_weights=w)
    r1 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r1.metrics["clf_dropped"] == 1
    q = {r["url"]: r["reason"] for r in r1.quarantine.collect()}
    assert q == {"https://h0.ex.com/junk": "classifier_rejected"}
    r2 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r2.resumed and r2.metrics["clf_dropped"] == 1
    assert {x["url"] for x in r2.kept.collect()} == \
        {x["url"] for x in r1.kept.collect()}
    with pytest.raises(ConfigError):
        run_filter(spark, _pages(spark, rows),
                   _cfg(clf_threshold=-5.0, clf_weights=w),
                   checkpoint_dir=ck)


def test_all_gates_composed_with_resume(spark, tmp_path):
    """EVERY pre-scoring stage on at once — blocklist -> line-dedup ->
    simhash near-dup -> classifier gate — with checkpoint/resume:
    stage precedence decides the quarantine reason (a blocklisted doc
    never reaches dedup; a near-dup is never classifier-scored), all
    three counters surface in metrics and survive resume, and the
    budget base stays the RAW input chars."""
    rows = _corpus()  # boilerplate + 3-doc near-dup group on dup.ex.com
    rows.append(("https://h0.ex.com/junk", "2024-01-03T00:00:00", "en",
                 BOILER + "\n" + "$$$$ %%%% ^^^^ &&&& " * 10))
    ck = str(tmp_path / "ck")
    # classifier weights that only punish symbol soup (see the clf
    # resume test); h1.ex.com is deny-listed outright
    cfg = _cfg(blocklist_hosts=("h1.ex.com",),
               line_dedup_min_df=10,
               near_dup_dedup="simhash",
               clf_threshold=0.0,
               clf_weights=(1.0, 0.0, 0.0, 0.0, -10.0, 0.0))
    r1 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    q = {r["url"]: r["reason"] for r in r1.quarantine.collect()}
    # blocklist fires first: every h1 doc is 'blocklisted' (i%3==1 ->
    # docs 1,4,7,10), even though they'd also pass later stages
    h1 = {u for u in q if "h1.ex.com" in u}
    assert len(h1) == 4 and all(q[u] == "blocklisted" for u in h1)
    # near-dup group loses 2 of 3
    dups = {u: r for u, r in q.items() if "dup.ex.com" in u}
    assert len(dups) == 2
    assert set(dups.values()) == {"near_duplicate_simhash"}
    # junk doc survives blocklist + dedup but the classifier cuts it
    assert q["https://h0.ex.com/junk"] == "classifier_rejected"
    m = r1.metrics
    assert (m["blocklist_dropped"], m["near_dup_dropped"],
            m["clf_dropped"]) == (4, 2, 1)
    assert r1.total_input_chars == sum(len(t) for *_, t in rows)
    # survivors carry line-CLEANED text
    for r in r1.kept.collect():
        assert BOILER not in r["text"]
    # resume restores every counter and the exact kept set
    r2 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r2.resumed
    assert {x["url"] for x in r2.kept.collect()} == \
        {x["url"] for x in r1.kept.collect()}
    assert (r2.metrics["blocklist_dropped"],
            r2.metrics["near_dup_dropped"],
            r2.metrics["clf_dropped"]) == (4, 2, 1)
    # resume rebuilds the gate quarantine from the committed verdicts
    assert {r["url"]: r["reason"] for r in r2.quarantine.collect()} == q


def test_resume_reuses_line_dedup_decision(spark, tmp_path):
    """Resume cleans lines with the boilerplate set the fresh leg
    committed. A footer sits on three pages, one of them deny-listed:
    it occurs on two unblocked pages, so min_df=3 keeps it in the fresh
    leg; a resume that recounted over the pre-blocklist pages would
    strip it."""
    footer = "CONTACT US ABOUT THIS SITE"
    rows = []
    for i in range(6):
        host = "bad.ex.com" if i == 0 else f"h{i}.ex.com"
        body = " ".join(["AAAA CCCC GGGG TTTT"]
                        + [f"w{i}x{j}" for j in range(30)])
        rows.append((f"https://{host}/p{i}", f"2024-01-01T00:00:{i:02d}",
                     "en", body + ("\n" + footer if i < 3 else "")))
    ck = str(tmp_path / "ck")
    cfg = _cfg(blocklist_hosts=("bad.ex.com",), line_dedup_min_df=3)
    r1 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    k1 = {r["url"]: r["text"] for r in r1.kept.collect()}
    assert sum(t.endswith(footer) for t in k1.values()) == 2
    r2 = run_filter(spark, _pages(spark, rows), cfg, checkpoint_dir=ck)
    assert r2.resumed
    assert {r["url"]: r["text"] for r in r2.kept.collect()} == k1
