"""Physical-plan audits: every driver-facing query must stay on
hash/broadcast equi-join paths — a CartesianProduct or
BroadcastNestedLoopJoin anywhere means an operator silently degraded to
all-pairs (the round-2 embedding-LSH failure mode, now structurally
guarded)."""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "Cross")


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_cross_products(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in FORBIDDEN:
        assert marker not in plan, f"{name}: {marker} in plan\n{plan}"


@pytest.mark.parametrize("name", ("window_quality", "normalize_scores",
                                  "final_score", "keep_budget",
                                  "scrub_children"))
def test_scorer_queries_match_oracle_scoring_once(spark, name):
    """The queries on the intrinsic scorer equal their DuckDB oracle, and
    each plan runs the scorer once per doc: one mapInPandas pass and no
    scalar Arrow UDF (a UDF column below a filter or generator can be
    duplicated into a second evaluation of the scorer)."""
    import duckdb

    from scripts.check_correctness import frame_fingerprint
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    oracle = con.sql(entry_mod.oracle_sql()[name]).df()
    assert frame_fingerprint(df.toPandas()) == frame_fingerprint(oracle)


def test_pipeline_label_join_not_cartesian(spark):
    """The output label join (metrics-only side vs source text) must be
    an equi-join on the parent url — never a nested loop."""
    from filtlong_spark.plans.pipeline import run_filter
    from filtlong_spark.sources import tables
    import bench
    pages = tables.documents_as_pages(spark, SF_DIR)
    res = run_filter(spark, pages, bench.full_stack_cfg())
    plan = res.kept._jdf.queryExecution().executedPlan().toString()
    for marker in FORBIDDEN:
        assert marker not in plan, plan


def test_lm_paint_joins_are_broadcast(spark):
    """The token-grain goodness painting must join the (pruned, small)
    count tables by BROADCAST when they fit — a sort-merge/shuffle-hash
    strategy here would shuffle the full token stream twice (by
    (prev, tok) then by tok), the single most expensive mistake the LM
    plan can make at scale. AQE can only pick broadcast if the static
    estimate doesn't pin the join; this guards the plan shape."""
    from pyspark.sql import functions as F
    from filtlong_spark.operators import lm as lm_op
    import bench
    from filtlong_spark.sources import tables as t
    pages = t.documents_as_pages(spark, SF_DIR)
    cfg = bench.lm_stack_cfg()
    tabs = lm_op.lm_count_tables(pages, cfg.lm_min_count)
    keyed = pages.select(F.xxhash64("url").alias("doc_key"), "url", "text")
    tok = keyed.mapInArrow(lm_op.make_token_mapper(cfg),
                           schema=lm_op.TOK_SCHEMA)
    painted = lm_op.paint_goodness(tok, tabs.c1, tabs.c2e, tabs.total,
                                   cfg.lm_threshold)
    plan = painted._jdf.queryExecution().executedPlan().toString()
    tabs.release()
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_quality_buckets_approx_plan_has_no_sort(spark):
    """The approx (web-scale) bucket path must be: one lang-grain
    aggregate -> BROADCAST join of the tiny cutpoint table -> map-only
    compare. A Window or a per-language sort in this plan means the
    'no global sort' promise silently regressed to the exact path."""
    from filtlong_spark.operators import sampling
    docs = spark.createDataFrame(
        [(f"d{i}", "en", float(i)) for i in range(50)],
        "doc_id string, lang string, q double")
    out = sampling.quality_buckets(docs, "q", algorithm="approx")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_quality_buckets_exact_plan_single_window(spark):
    """The exact path is ntile over ONE window (partitioned by lang) —
    no second shuffle, no join."""
    from filtlong_spark.operators import sampling
    docs = spark.createDataFrame(
        [(f"d{i}", "en", float(i)) for i in range(50)],
        "doc_id string, lang string, q double")
    out = sampling.quality_buckets(docs, "q")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def _gate_source(spark, tmp_path):
    """A small parquet page source: a shared footer line, a deny-listed
    host, a near-copy pair, a symbol-soup page and a URL variant."""
    body = "AAAA CCCC GGGG TTTT the quick brown fox jumps over the lazy dog"
    rows = [(f"https://h{i}.ex.com/p{i}", f"2024-01-01T00:00:{i:02d}", "en",
             f"{body} w{i}a w{i}b w{i}c\nFOOTER LINE") for i in range(6)]
    rows += [("https://bad.ex.com/x", "2024-01-02T00:00:00", "en", body),
             ("https://h0.ex.com/p0?utm_source=x", "2024-01-02T00:00:01",
              "en", body),
             ("https://h1.ex.com/copy", "2024-01-02T00:00:02", "en",
              f"{body} w1a w1b w1c\nFOOTER LINE"),
             ("https://h2.ex.com/junk", "2024-01-02T00:00:03", "en",
              "$$$$ %%%% ^^^^ &&&& " * 10)]
    path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "url string, warc_ts string, lang string, text string"
    ).write.parquet(path)
    return spark.read.parquet(path)


def _gate_cfg(**kw):
    from filtlong_spark import FilterConfig
    base = dict(min_length=10, mode="intrinsic",
                vocab=frozenset({"AAAA", "CCCC", "GGGG", "TTTT"}),
                budget_algorithm="approx")
    base.update(kw)
    return FilterConfig(**base)


def test_gated_corpus_is_built_once(spark, tmp_path, monkeypatch):
    """With every gate on, the scorer reads the gated corpus through ONE
    anti-join against the verdict table, and the survivor write reads
    the corpus checkpoint: neither the canonical-URL UDF nor the
    line-clean mapper, nor the source scan, runs again for it."""
    from filtlong_spark.operators import score as score_op
    from filtlong_spark.plans.pipeline import run_filter
    seen = []
    real = score_op.score_and_scrub

    def spy(pages, cfg, accepted_bc):
        seen.append(pages)
        return real(pages, cfg, accepted_bc)

    monkeypatch.setattr(score_op, "score_and_scrub", spy)
    cfg = _gate_cfg(canonical_url_dedup=True, blocklist_hosts=("bad.ex.com",),
                    line_dedup_min_df=3, near_dup_dedup="simhash",
                    clf_threshold=0.0,
                    clf_weights=(1.0, 0.0, 0.0, 0.0, -10.0, 0.0))
    src = _gate_source(spark, tmp_path)
    res = run_filter(spark, src, cfg)
    scorer_in = seen[0]._jdf.queryExecution().optimizedPlan().toString()
    assert scorer_in.count("LeftAnti") == 1, scorer_in
    plan = res.kept._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "MapInArrow"):
        assert node not in plan, plan
    assert not set(src.inputFiles()) & set(res.kept.inputFiles())
    assert res.kept.count() > 0


def test_gated_ingest_runs_once(spark, tmp_path, monkeypatch):
    """With line dedup on, the line-frequency count reads materialized
    ingest + blocklist rows: neither the canonical-URL UDF nor the source
    scan runs for it, so ingest's plan runs once per fresh leg (the line
    clean reads the same rows). Those rows leave executor storage once
    the corpus checkpoint is built, and the survivors never read them."""
    from filtlong_spark.operators import dedup
    from filtlong_spark.plans.pipeline import run_filter
    seen = []
    real = dedup.line_hot_hashes

    def spy(docs, *a, **kw):
        seen.append(docs)
        return real(docs, *a, **kw)

    monkeypatch.setattr(dedup, "line_hot_hashes", spy)
    cfg = _gate_cfg(canonical_url_dedup=True, blocklist_hosts=("bad.ex.com",),
                    line_dedup_min_df=3, near_dup_dedup="simhash")
    src = _gate_source(spark, tmp_path)
    res = run_filter(spark, src, cfg)
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert not set(src.inputFiles()) & set(seen[0].inputFiles())
    level = (seen[0]._jdf.queryExecution().analyzed().collectLeaves().head()
             .rdd().getStorageLevel())
    assert not (level.useMemory() or level.useDisk()), level.toString()
    assert res.kept.count() > 0


def test_resumed_gated_run_reads_the_committed_corpus(spark, tmp_path,
                                                      monkeypatch):
    """A resume with gates on reattaches survivor text from the corpus
    the fresh leg committed: neither the canonical-URL UDF nor the
    line-clean mapper runs again, and the source is not scanned for
    it. Ingest is planned only when the quarantine is read. The
    survivors equal the fresh leg's."""
    from filtlong_spark.operators import ingest as ingest_op
    from filtlong_spark.plans.pipeline import run_filter
    cfg = _gate_cfg(canonical_url_dedup=True, blocklist_hosts=("bad.ex.com",),
                    line_dedup_min_df=3, near_dup_dedup="simhash")
    src = _gate_source(spark, tmp_path)
    ck = str(tmp_path / "ck")
    fresh = run_filter(spark, src, cfg, checkpoint_dir=ck).kept.collect()
    calls = []
    real = ingest_op.ingest
    monkeypatch.setattr(ingest_op, "ingest",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    res = run_filter(spark, src, cfg, checkpoint_dir=ck)
    assert res.resumed
    assert not calls
    assert res.quarantine.count() > 0 and len(calls) == 1
    plan = res.kept._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "MapInArrow"):
        assert node not in plan, plan
    assert not set(src.inputFiles()) & set(res.kept.inputFiles())
    assert res.kept.collect() == fresh and fresh


def test_source_spread_needs_no_plan_probe(spark, tmp_path, monkeypatch):
    """Whether run_filter fans a small source out is decided from the
    source's files alone: with DataFrame.rdd raising, a fresh run over a
    one-file parquet source keeps the survivors of an unpatched run."""
    from filtlong_spark.plans.pipeline import run_filter
    from filtlong_spark.sources import tables
    path = str(tmp_path / "one")
    _gate_source(spark, tmp_path).coalesce(1).write.parquet(path)
    src = spark.read.parquet(path)
    assert len(src.inputFiles()) == 1
    want = run_filter(spark, src, _gate_cfg()).kept.collect()

    def no_probe(self):
        raise AssertionError("DataFrame.rdd probed")

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # its abstract base)
    monkeypatch.setattr(type(src), "rdd", property(no_probe))
    assert run_filter(spark, spark.read.parquet(path),
                      _gate_cfg()).kept.collect() == want and want
    # an in-memory source has no files and never spreads
    assert not tables._should_spread(spark, [])


def test_ungated_survivors_read_the_source(spark, tmp_path):
    """Without a gate nothing is materialized before scoring: the
    survivor write reattaches text from the source scan."""
    from filtlong_spark.plans.pipeline import run_filter
    src = _gate_source(spark, tmp_path)
    res = run_filter(spark, src, _gate_cfg())
    assert set(src.inputFiles()) <= set(res.kept.inputFiles())
