"""Dedup operators: hot-shingle guard + basic pair detection."""

import time


from filtlong_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_finds_near_dups_with_cap_on(spark):
    base = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(1, base), (2, base + " extra"), (3, "totally different words "
                                                 "compose this one here")]
    out = dedup.jaccard_pairs(_docs(spark, rows), shingle_n=3,
                              threshold=0.5).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in pairs and len(pairs) == 1


def test_jaccard_hot_shingle_capped(spark):
    """One boilerplate shingle shared by every doc: without the DF cap the
    self-join is quadratic; with it the hot shingle leaves the universe."""
    common = "alpha beta gamma delta epsilon"
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e " + common)
            for i in range(300)]
    docs = _docs(spark, rows)
    uncapped = dedup.jaccard_pairs(docs, shingle_n=5, threshold=0.05,
                                   max_doc_freq=None).count()
    assert uncapped == 300 * 299 / 2   # every pair shares the hot shingle
    t0 = time.time()
    capped = dedup.jaccard_pairs(docs, shingle_n=5, threshold=0.05,
                                 max_doc_freq=100).count()
    assert capped == 0
    assert time.time() - t0 < 60


def test_simhash_pairs_find_planted_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog while the "
            "fast sort joins the hash table rows and the merge scan "
            "filters the wide column batch " * 3)
    rows = [(1, base), (2, base + " dup"),     # near-identical
            (3, "entirely different words populate this other document "
                "about streams windows and aggregations " * 3)]
    out = dedup.simhash_pairs(_docs(spark, rows), max_dist=3).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_width_survives_100k_corpus(spark):
    """At the production 60-bit width, a 100k-doc corpus spreads over the
    2^15-key band universe: band buckets stay far below the hot-bucket
    cap, so candidates are NOT silently dropped (the round-2 16-bit toy
    width collapsed every band onto 16 keys and the cap ate them all)."""
    import pyspark.sql.functions as F
    # synthetic fingerprints drawn uniformly from 60 bits: band keys are
    # then uniform over 2^15, the distribution a healthy simhash yields
    fps = (spark.range(100_000).toDF("doc_id")
           .withColumn("simhash",
                       F.abs(F.xxhash64(F.col("doc_id").cast("string")))
                       % F.lit(1 << dedup.SIMHASH_BITS))
           # plant one near-dup of doc 0: flip the lowest simhash bit
           .union(spark.range(100_000, 100_001).toDF("doc_id")
                  .withColumn("simhash",
                              (F.abs(F.xxhash64(F.lit("0")))
                               % F.lit(1 << dedup.SIMHASH_BITS))
                              .bitwiseXOR(F.lit(1)))))
    band_w = dedup.SIMHASH_BITS // dedup.SIMHASH_BANDS
    bands = fps.select("doc_id", *[
        (F.shiftright("simhash", b * band_w)
         .bitwiseAND(F.lit((1 << band_w) - 1))).alias(f"k{b}")
        for b in range(dedup.SIMHASH_BANDS)])
    max_bucket = max(
        bands.groupBy(f"k{b}").count().agg(F.max("count")).collect()[0][0]
        for b in range(dedup.SIMHASH_BANDS))
    assert max_bucket <= dedup.MAX_BAND_BUCKET  # nothing gets capped away
    out = dedup.simhash_band_pairs(fps, max_dist=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(0, 100_000)}


def _on_path(monkeypatch, path, fn):
    """fn() with connected_components resolving small graphs on the
    driver ("driver") or, with the driver budget at zero pairs, always on
    the Spark loop ("spark")."""
    with monkeypatch.context() as m:
        if path == "spark":
            m.setattr(dedup, "DRIVER_CC_PAIRS", 0)
        return fn()


def test_connected_components_chain_and_cluster(spark, monkeypatch):
    """Pairs (1,2),(2,3) chain + (10,11) pair + isolated 20: components
    resolve to the min doc_id after propagation, on either path."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)],
                                 "doc_id long")
    for path in ("driver", "spark"):
        out = _on_path(monkeypatch, path, lambda: {
            r["doc_id"]: (r["rep_id"], r["is_dup"])
            for r in dedup.dedup_assign(docs, pairs).collect()})
        assert out == {1: (1, False), 2: (1, True), 3: (1, True),
                       10: (10, False), 11: (10, True), 20: (20, False)}, path


def test_connected_components_long_chain_converges(spark, monkeypatch):
    n = 24
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "doc_a long, doc_b long")
    for path in ("driver", "spark"):
        comps = _on_path(monkeypatch, path,
                         lambda: dedup.connected_components(pairs).collect())
        assert len(comps) == n + 1 and {r["rep"] for r in comps} == {0}, path


def test_connected_components_evaluates_pairs_once(spark, monkeypatch):
    """The size probe and the Spark loop read one evaluation of the
    candidate pairs: a UDF in the pairs' plan runs once per pair."""
    from pyspark.sql import functions as F
    n = 40
    for path in ("driver", "spark"):
        seen = spark.sparkContext.accumulator(0)

        def tap(x, seen=seen):
            seen.add(1)
            return x
        pairs = (spark.createDataFrame([(i, i + 1) for i in range(n)],
                                       "doc_a long, doc_b long")
                 .select(F.udf(tap, "long")("doc_a").alias("doc_a"),
                         "doc_b"))
        comps = _on_path(monkeypatch, path,
                         lambda: dedup.connected_components(pairs).collect())
        assert {r["rep"] for r in comps} == {0}, path
        assert seen.value == n, path


def _random_pair_graph(rng):
    """Pairs over random 60-bit ids: chains longer than 2^5, one of 90
    nodes (in random id order), stars, cycles, isolated pairs, a
    self-pair, and every tenth pair repeated, half of those reversed."""
    pairs, n = [], 0

    def ids(k):
        nonlocal n
        n += k
        return list(range(n - k, n))
    for length in (33, 40, 90):
        c = ids(length)
        rng.shuffle(c)
        pairs += list(zip(c, c[1:]))
    for size in (2, 15):
        hub, *leaves = ids(size)
        pairs += [(hub, x) for x in leaves]
    for size in (3, 33):
        c = ids(size)
        pairs += list(zip(c, c[1:] + c[:1]))
    for _ in range(5):
        pairs.append(tuple(ids(2)))
    pairs.append((ids(1)[0],) * 2)
    pairs += [p if i % 2 else p[::-1] for i, p in enumerate(pairs[::10])]
    label = rng.sample(range(1 << 60), n)
    pairs = [(label[a], label[b]) for a, b in pairs]
    rng.shuffle(pairs)
    return pairs


def _components_reference(pairs):
    """{node: smallest node of its component}, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_paths_agree(spark, monkeypatch):
    """Seeded random pair graphs: the driver path and the Spark loop give
    identical (node, rep) rows, equal to a union-find reference, within
    the default round cap (a 90-node chain in random id order needs
    more than 20 rounds without root hooking)."""
    import random
    for seed in (0, 1):
        pairs = _random_pair_graph(random.Random(seed))
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {}
        for path in ("driver", "spark"):
            comps = _on_path(monkeypatch, path,
                             lambda: dedup.connected_components(df))
            plan = comps._jdf.queryExecution().executedPlan().toString()
            assert ("LocalTableScan" in plan) == (path == "driver"), plan
            got[path] = sorted((r["node"], r["rep"])
                               for r in comps.collect())
        assert got["driver"] == got["spark"], seed
        assert dict(got["driver"]) == _components_reference(pairs), seed


def test_lsh_band_bucket_cap(spark):
    """A giant exact-duplicate cluster shares every band bucket: without
    the cap the band self-join is quadratic in the cluster size; with it
    the cluster's buckets are dropped (exact dedup handles such clusters
    first in a real pipeline) while normal near-dups still pair."""
    base = "the quick brown fox jumps over the lazy dog again " * 4
    rows = [(i, base) for i in range(300)]                    # giant cluster
    rows += [(1000, "some distinct words here for this one document "
                    "talking about hash joins and sort orders"),
             (1001, "some distinct words here for this one document "
                    "talking about hash joins and sort orders too")]
    docs = _docs(spark, rows)
    pairs = dedup.lsh_candidate_pairs(docs, max_bucket=100).collect()
    ids = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert ids <= {1000, 1001}           # cluster capped out
    assert (1000, 1001) in {(r["doc_a"], r["doc_b"]) for r in pairs}
    uncapped = dedup.lsh_candidate_pairs(docs, max_bucket=None).count()
    assert uncapped >= 300 * 299 / 2     # proves the cap was load-bearing


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    """CCNet-style line dedup: a line present in >= min_df distinct docs
    disappears from every doc; unique lines survive in original order;
    a doc of pure boilerplate comes back empty (not missing)."""
    from filtlong_spark.operators import dedup as dd
    rows = []
    for i in range(6):
        body = f"unique line alpha {i}\nBOILER\nunique line beta {i}"
        rows.append((i, body))
    rows.append((6, "BOILER"))            # all-boilerplate doc
    rows.append((7, "no boiler here\n\nblank kept"))  # blanks never count
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_clean"]
           for r in dd.line_dedup(df, min_df=5).collect()}
    assert out[0] == "unique line alpha 0\nunique line beta 0"
    assert out[6] == ""
    assert out[7] == "no boiler here\n\nblank kept"
    assert len(out) == 8


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc sharing a >=7-token span with a benchmark doc is
    contaminated (>= 3 distinct 5-gram hits); partial/disjoint docs are
    not; docs with zero hits still appear with n_hits = 0."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta eta")])
    corpus = _docs(spark, [
        (1, "xx alpha beta gamma delta epsilon zeta eta yy"),   # full span
        (2, "alpha beta gamma delta epsilon nothing else"),     # 1 shingle
        (3, "completely unrelated words fill this document"),   # 0 hits
    ])
    out = {r["doc_id"]: r for r in
           dedup.decontaminate(corpus, bench).collect()}
    assert out[1]["n_hits"] == 3 and out[1]["contaminated"]
    assert out[2]["n_hits"] == 1 and not out[2]["contaminated"]
    assert out[3]["n_hits"] == 0 and not out[3]["contaminated"]


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark shingle set must reach the corpus probe as a
    broadcast — a shuffled join here would re-shuffle the corpus-sized
    shingle stream on shingle text, the exact plan the operator exists
    to avoid."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    corpus = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    plan = (dedup.decontaminate(corpus, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan


def test_substring_dedup_cuts_repeated_spans(spark):
    """A 10-token span shared verbatim by two docs is cut from BOTH
    (every 8-token window inside it is duplicated); unique text
    survives; a doc with < 8 tokens has zero windows and keeps all
    tokens; within-doc repetition also counts as duplication."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = _docs(spark, [
        (1, f"intro unique alpha {shared} outro beta"),
        (2, f"other start gamma {shared} tail delta"),
        (3, "short doc here"),                                 # < k tokens
        (4, "a b c d e f g h x a b c d e f g h"),             # self-repeat
    ])
    out = {r["doc_id"]: r for r in
           dedup.substring_dedup(docs, k=8).collect()}
    # docs 1/2: the shared 10-token run yields 3 duplicated windows each,
    # covering exactly those 10 tokens; flanks survive
    assert out[1]["dup_windows"] == 3
    assert out[1]["clean_text"] == "intro unique alpha outro beta"
    assert out[2]["clean_text"] == "other start gamma tail delta"
    # doc 3: no windows at all
    assert out[3]["n_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[3]["clean_text"] == "short doc here"
    # doc 4: 'a b c d e f g h' occurs twice WITHIN the doc -> duplicated
    assert out[4]["dup_windows"] >= 2
    assert "a b c d e f g h" not in out[4]["clean_text"]


def test_substring_dedup_window_pass_is_map_only(spark):
    """The window-hash emission must not shuffle text: the only
    exchanges in the plan carry (doc_id, pos, whash) ints or doc-grain
    position lists, never 'win'/window strings."""
    docs = _docs(spark, [(1, "a b c d e f g h i"),
                         (2, "a b c d e f g h i")])
    plan = (dedup.substring_dedup(docs, k=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "win" not in plan.lower().replace("window", "").replace(
        "windows", ""), plan
