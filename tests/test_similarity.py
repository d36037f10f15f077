"""ANN operators: brute-force cosine vs sign-LSH bucketed candidates."""

import numpy as np

from filtlong_spark.operators import similarity as sim


def _emb_df(spark, n=200, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim))
    if n >= 150:
        # plant near-duplicate pairs (i, i+100): tiny perturbation
        base[100:150] = base[0:50] + rng.normal(scale=0.01, size=(50, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_candidates_subset_and_pruned(spark):
    emb = _emb_df(spark)
    brute = {(r["probe_id"], r["vec_id"])
             for r in sim.cosine_pairs(emb, probe_max_id=199,
                                       threshold=-1.0).collect()}
    cand = sim.ann_lsh_candidates(emb, probe_max_id=199).collect()
    cand_pairs = {(r["probe_id"], r["vec_id"]) for r in cand}
    assert cand_pairs <= brute          # candidates are real pairs
    assert 0 < len(cand_pairs) < len(brute) / 4   # banding prunes hard


def test_lsh_recall_on_near_duplicates(spark):
    """Planted near-dups (cos ~ 1) must agree on at least one full band:
    per 16-bit band collision prob is (1 - theta/pi)^16 ~ 1 for tiny
    theta, and any of the 4 bands suffices -> recall ~100%."""
    emb = _emb_df(spark)
    cand = sim.ann_lsh_candidates(emb, probe_max_id=99).collect()
    got = {(r["probe_id"], r["vec_id"]) for r in cand}
    planted = {(i, i + 100) for i in range(50)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9
    # and the candidates that are near-dups carry the right cosine
    by_pair = {(r["probe_id"], r["vec_id"]): r["cos"] for r in cand}
    for p in (got & planted):
        assert by_pair[p] > 0.99


def test_lsh_band_keys_deterministic(spark):
    emb = _emb_df(spark, n=50)
    a = {(r["vec_id"], r["band"], r["key"])
         for r in sim.lsh_band_keys(emb).collect()}
    b = {(r["vec_id"], r["band"], r["key"])
         for r in sim.lsh_band_keys(emb).collect()}
    assert a == b
    assert len(a) == 50 * sim.LSH_BANDS
    assert all(0 <= k < 2 ** sim.BAND_BITS for _, _, k in a)


def test_lsh_empty_and_zero_vector_guards(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert sim.lsh_band_keys(empty).count() == 0
    assert sim.cosine_pairs(empty, probe_max_id=10, threshold=0.0).count() == 0
    # a zero vector must not produce NaN cosines (norm clamped to 1 -> cos 0)
    rows = [(0, [0.0] * 16), (1, [1.0] + [0.0] * 15), (2, [1.0] + [0.0] * 15)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.cosine_pairs(emb, probe_max_id=2, threshold=-1.0).collect()
    assert all(r["cos"] == r["cos"] for r in out)  # no NaN
    by = {(r["probe_id"], r["vec_id"]): r["cos"] for r in out}
    assert by[(0, 1)] == 0.0 and by[(1, 2)] == 1.0


def test_hot_bucket_cap_on_10k_corpus(spark):
    """9k identical (templated) vectors + 1k random: the identical
    cluster shares every band key and blows the bucket cap, so its
    buckets are DROPPED — the self-join can never go quadratic (without
    the cap the cluster alone yields ~9000^2/2 = 40.5M pairs)."""
    import pyspark.sql.functions as F
    rng = np.random.default_rng(3)
    v = rng.normal(size=16)
    rows = [(i, [float(x) for x in v]) for i in range(9000)]
    base = rng.normal(size=(1000, 16))
    rows += [(9000 + i, [float(x) for x in base[i]]) for i in range(1000)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from filtlong_spark.operators.dedup import MAX_BAND_BUCKET, _cap_buckets
    capped = _cap_buckets(sim.lsh_band_keys(emb), ["band", "key"],
                          MAX_BAND_BUCKET)
    max_bucket = (capped.groupBy("band", "key").count()
                  .agg(F.max("count")).collect()[0][0])
    assert max_bucket is not None and max_bucket <= MAX_BAND_BUCKET
    n_cand = sim.lsh_candidate_pairs(emb, None).count()
    assert n_cand < 500_000


def test_near_dup_pairs_whole_corpus(spark):
    """Bucket self-join dedup: planted near-dup pairs recovered with their
    cosines; no probe set involved."""
    emb = _emb_df(spark)
    out = sim.near_dup_pairs(emb, threshold=0.99).collect()
    got = {(r["probe_id"], r["vec_id"]) for r in out}
    planted = {(i, i + 100) for i in range(50)}
    assert len(got & planted) / len(planted) >= 0.9
    assert all(r["cos"] >= 0.99 for r in out)


def test_ivf_topk_recall(spark):
    """IVF multi-probe top-k: near-dup ground truth must be recalled
    (near-identical vectors share the nearest centroid, and the probe
    fans out to nprobe lists), and results must be deterministic."""
    emb = _emb_df(spark)
    out = sim.ann_ivf_topk(emb, probe_max_id=49, k=3).collect()
    top1 = {r["probe_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    hits = sum(1 for i in range(50) if top1.get(i) == i + 100)
    assert hits / 50 >= 0.9
    again = sim.ann_ivf_topk(emb, probe_max_id=49, k=3).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_ivf_train_deterministic_and_shapes(spark):
    emb = _emb_df(spark, n=100)
    c1 = sim.ivf_train(emb, n_lists=8)
    c2 = sim.ivf_train(emb, n_lists=8)
    assert c1.shape == (8, 16)
    assert (c1 == c2).all()
    lists = {r["list_id"] for r in sim.ivf_assign(emb, c1).collect()}
    assert lists <= set(range(8)) and len(lists) > 1


def test_embed_text_near_dups_production_width(spark):
    """Text -> hashed-BoW embedding -> near-dup pairs at the FULL
    production band width: planted near-dup texts must pair at cos ~ 1,
    distinct texts must not."""
    base = ("the fast sort joins the hash table rows while the merge "
            "scan filters the wide column batch " * 4)
    rows = [(1, base), (2, base + " dup"),
            (3, "totally different words populate this other text about "
                "windows and watermarks and streams " * 4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = sim.embed_text(docs)
    assert emb.count() == 3
    [v] = emb.filter("vec_id = 1").collect()
    assert len(v["embedding"]) == 32 and sum(v["embedding"]) > 0
    pairs = {(r["probe_id"], r["vec_id"]): r["cos"]
             for r in sim.near_dup_pairs(emb, threshold=0.99).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_centered_banding_prunes_clustered_corpus(spark):
    """Mean-centering before the hyperplanes: on a CLUSTERED corpus
    (shared common direction, like real text embeddings) centered bands
    produce far fewer candidates while still pairing the planted
    near-identical vectors (centering is a translation)."""
    rng = np.random.default_rng(11)
    common = rng.normal(size=16) * 10.0           # strong shared direction
    base = common[None, :] + rng.normal(size=(300, 16))
    base[200:250] = base[0:50] + rng.normal(scale=0.001, size=(50, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    raw = sim.lsh_candidate_pairs(emb, None).count()
    cen = sim.lsh_candidate_pairs(emb, None, center=True).count()
    assert cen < raw / 3
    got = {(r["probe_id"], r["vec_id"])
           for r in sim.near_dup_pairs(emb, threshold=0.999,
                                       center=True).collect()}
    planted = {(i, i + 200) for i in range(50)}
    assert len(got & planted) / len(planted) >= 0.9


def test_near_dup_paths_agree(spark, monkeypatch):
    """near_dup_pairs returns the same (probe_id, vec_id, cos) rows on the
    bucket-local path and on the join path (a zero broadcast budget
    forces the join path), on integer embeddings and on fractional ones
    banded around their centred mean: both paths take that mean from the
    one corpus_mean aggregate."""
    rng = np.random.default_rng(5)
    ints = rng.integers(0, 4, size=(200, 16)).astype(float)
    ints[100:150] = ints[0:50]
    ints[100:150, 0] += 1.0
    int_rows = [(i, [float(x) for x in ints[i]]) for i in range(200)]
    int_emb = spark.createDataFrame(int_rows,
                                    "vec_id long, embedding array<float>")
    cases = [(int_emb, False), (int_emb, True), (_emb_df(spark), True)]
    for emb, center in cases:
        def run():
            return {(r["probe_id"], r["vec_id"], r["cos"])
                    for r in sim.near_dup_pairs(
                        emb, threshold=0.8, band_bits=8,
                        center=center).collect()}
        local = run()
        calls = []
        real = sim._pair_cosines
        with monkeypatch.context() as m:
            m.setattr(sim, "PAIR_COS_BROADCAST_BYTES", 0)
            m.setattr(sim, "_pair_cosines",
                      lambda *a: calls.append(1) or real(*a))
            joined = run()
        assert calls, "the join path did not run"
        assert local, center
        assert local == joined, center
