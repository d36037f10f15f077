"""Similarity search over an embedding column (array<float>).

- brute-force cosine: probe set x corpus, broadcast numpy matmul per
  Arrow batch. The probe side is tiny -> broadcast, so the "scan" side
  streams with no shuffle: at 100 TB this is one pass over the corpus.
- BANDED sign-LSH (random-hyperplane signs from md5-derived deterministic
  planes): 64 planes grouped into 4 bands x 16 bits; a candidate pair is
  any two vectors agreeing on ALL 16 sign bits of at least one band
  (minhash-LSH banding applied to hyperplane signatures). Each band has a
  2^16 key universe and hot buckets are capped (dedup._cap_buckets), so
  the self-join is never quadratic-in-expectation — the round-2 design
  (one 8-bit bucket universe, ~N^2/512 expected join size) is gone.

Cosines are computed in the ORACLE's operation order — dot product of the
raw doubles divided by the product of the norms — then rounded to 6dp.
numpy's matmul may still sum in a different order than DuckDB's
left-to-right list_reduce fold, so exact equality relies on the 6dp
rounding absorbing the final-ulp difference (a value landing exactly on a
rounding boundary could in principle diverge; none do in the testdata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import MAX_BAND_BUCKET, _cap_buckets


def norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _safe_norms(M):
    """Row L2 norms with zero clamped to 1 (a zero vector then yields
    cos = 0 instead of NaN)."""
    import numpy as np
    n = np.linalg.norm(M, axis=1)
    return np.where(n == 0.0, 1.0, n)


def _batch_matrix(list_col, n_rows, dtype=None):
    """Arrow list<float> column -> (n_rows, dim) float64 matrix by
    reading the values buffer directly (flatten + reshape — near
    zero-copy). The pandas route (np.array(list(series))) builds one
    numpy object per row and re-copies; on billion-vector scans the
    intake costs more than the BLAS matmul it feeds. Raises if rows
    are ragged (embeddings must share one dimension)."""
    import numpy as np
    flat = list_col.flatten().to_numpy(zero_copy_only=False)
    if n_rows == 0 or flat.size % n_rows:
        raise ValueError(
            f"ragged embedding column: {flat.size} values / {n_rows} rows")
    out = flat.reshape(n_rows, flat.size // n_rows)
    return out.astype(np.float64 if dtype is None else dtype, copy=False)


def _probe_scan(emb: DataFrame, probe_max_id: int, keep_fn):
    """Shared scaffolding for the exact-cosine family: collect the tiny
    probe side, broadcast it as a normalized numpy matrix, and run ONE
    mapInPandas pass over the corpus computing all cosines per Arrow
    batch with a BLAS matmul — no join, no shuffle, a single streaming
    scan (the 100 TB pattern; a Catalyst HOF fold is interpreted per
    element per row and measured 10-100x slower). ``keep_fn(sims,
    valid)`` -> boolean keep mask lets callers prune per batch
    (threshold filter, partial top-k) without duplicating the
    probe-broadcast/matmul/oracle-op-order logic. Returns None when
    there are no probes, else the (probe_id, vec_id, cos) DataFrame of
    RAW cosines (callers round)."""
    import numpy as np
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    probes = (emb.filter(F.col("vec_id") <= probe_max_id)
              .select("vec_id", "embedding").collect())
    if not probes:
        return None
    pids = np.array([r["vec_id"] for r in probes], dtype=np.int64)
    P = np.array([r["embedding"] for r in probes], dtype=np.float64)
    pnorm = _safe_norms(P)
    bc = emb.sparkSession.sparkContext.broadcast((pids, P, pnorm))

    def mapper(batches):
        import pyarrow as pa
        b_pids, b_p, b_pnorm = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            # Arrow-native intake: flatten()+reshape reads the list
            # column's values buffer directly — the pandas route built
            # one numpy object per ROW and re-copied via np.array(list)
            E = _batch_matrix(rb.column("embedding"), rb.num_rows)
            # oracle op order: dot of RAW vectors / product of norms
            sims = (E @ b_p.T) / (_safe_norms(E)[:, None] * b_pnorm[None, :])
            vids = rb.column("vec_id").to_numpy(zero_copy_only=False)
            valid = b_pids[None, :] < vids[:, None]   # probe_id < vec_id
            keep = keep_fn(sims, valid)
            r, c = np.nonzero(keep)
            if len(r):
                yield pa.record_batch(
                    [pa.array(b_pids[c]), pa.array(vids[r].astype(np.int64)),
                     pa.array(sims[r, c])],
                    names=["probe_id", "vec_id", "cos"])

    return emb.select("vec_id", "embedding").mapInArrow(
        mapper, schema="probe_id long, vec_id long, cos double")


def cosine_pairs(emb: DataFrame, probe_max_id: int,
                 threshold: float) -> DataFrame:
    """All (probe_id, vec_id, cos) with probe_id <= probe_max_id,
    probe_id < vec_id, round(cos, 6) >= threshold — one _probe_scan
    with no per-batch pruning (the threshold compares ROUNDED cosines,
    applied after the scan).

    Rounded to 6dp so float-summation order can never flip the compare vs
    the SQL oracle."""
    pairs = _probe_scan(emb, probe_max_id, lambda sims, valid: valid)
    if pairs is None:
        return emb.sparkSession.createDataFrame(
            [], "probe_id long, vec_id long, cos double")
    return (pairs.withColumn("cos", F.round("cos", 6))
            .filter(F.col("cos") >= threshold)
            .select("probe_id", "vec_id", "cos"))


def cosine_topk(emb: DataFrame, probe_max_id: int, k: int) -> DataFrame:
    """Top-k neighbors per probe by (rounded cos desc, vec_id asc).

    Physical shape: PARTIAL top-k inside the corpus mapper — each Arrow
    batch keeps, per probe, only the rows whose raw cosine reaches the
    batch's k-th best minus a 2e-6 margin (rounding is monotone, and two
    doubles that ROUND equal at 6dp differ by < 1.5e-6 raw, so every
    candidate that could win under the final rounded comparator
    survives the cut). The final per-probe row_number window then ranks
    ~k rows per probe PER BATCH instead of the whole probes-x-corpus
    pair set — the exact path stays usable at large probe counts, and
    the emitted (probe_id, vec_id, cos, rank) rows are bit-identical to
    the unpruned window (same F.round, same ordering). Shares
    _probe_scan with cosine_pairs; only the keep mask differs."""
    from pyspark.sql import Window
    margin = 2e-6

    def topk_keep(sims, valid):
        import numpy as np
        masked = np.where(valid, sims, -np.inf)
        if masked.shape[0] > k:
            # k-th best raw cosine per probe column
            thr = -np.partition(-masked, k - 1, axis=0)[k - 1]
            return valid & (masked >= thr[None, :] - margin)
        return valid

    cand = _probe_scan(emb, probe_max_id, topk_keep)
    if cand is None:
        return emb.sparkSession.createDataFrame(
            [], "probe_id long, vec_id long, cos double, rank int")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (cand.withColumn("cos", F.round("cos", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cos", "rank"))


N_PLANES = 64     # total hyperplanes
LSH_BANDS = 4     # 4 bands x 16 sign bits -> 2^16 keys per band
BAND_BITS = N_PLANES // LSH_BANDS
PLANE_MOD = 2001  # integer weights in [-1000, 1000]
QUANT = 1000.0    # embedding quantization step for exact integer signs


def plane_matrix(dim: int, n_planes: int = N_PLANES):
    """Deterministic integer hyperplanes: plane p's weight for dim i =
    (first 8 md5 hex chars of 'p:i') mod 2001 - 1000. Integer weights x
    integer-quantized embeddings -> the sign computation is EXACT and
    engine-independent (mirrored verbatim in the DuckDB oracle SQL)."""
    import hashlib

    import numpy as np
    w = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for i in range(dim):
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16)
            w[p, i] = h % PLANE_MOD - (PLANE_MOD - 1) // 2
    return w


def corpus_mean(emb: DataFrame, dim: int) -> list[float]:
    """Per-dimension corpus mean (one tiny aggregate -> dim doubles on
    the driver). For integer-valued embeddings (hashed BoW counts) the
    sums are exact in double, so the mean is bit-identical across
    engines; for arbitrary float embeddings the sum order makes the
    last ulp engine-dependent — only center those where the oracle
    doesn't need bit equality."""
    row = emb.agg(*[
        F.sum(F.element_at("embedding", i + 1).cast("double"))
        .alias(f"s{i}") for i in range(dim)],
        F.count("*").alias("n")).collect()[0]
    n = row["n"] or 1
    return [float(row[f"s{i}"] or 0.0) / n for i in range(dim)]


def lsh_band_keys(emb: DataFrame, n_bands: int = LSH_BANDS,
                  band_bits: int = BAND_BITS,
                  center: bool = False,
                  dim: int | None = None) -> DataFrame:
    """(vec_id, band, key): banded sign-LSH signature — band b's key packs
    sign bits of planes [b*band_bits, (b+1)*band_bits), MSB-first. ONE
    numpy mapInPandas pass (a BLAS int matmul per Arrow batch); the
    exchange then carries only (vec_id, band, key) — ~24 bytes/row, the
    embedding itself never rides the band shuffle. Embeddings are
    quantized floor(x*1000 + 0.5) so the plane dot products are exact
    int64 in every engine (mirrored in the DuckDB oracle).

    center=True subtracts the corpus mean before the planes — THE
    clustered-corpus survival knob: real text embeddings share a strong
    common direction, so origin-centered hyperplanes see most of the
    corpus on one side and band keys collapse into mega-buckets (which
    the cap then eats — recall silently dies at scale). Measured on the
    sf0.1 hashed-BoW corpus: candidates 609,764 -> 61,285 (10x) at
    recall 209/215 -> 192/215 for raw-cos>=0.99 pairs. Centering is a
    translation, so truly near-identical vectors stay near-identical."""
    import numpy as np

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    spark = emb.sparkSession
    schema = "vec_id long, band int, key long"
    if dim is None:
        first = emb.select("embedding").first()
        if first is None:
            return spark.createDataFrame([], schema)
        dim = len(first["embedding"])
    # dim can be passed in by a caller that already probed it
    # (near_dup_pairs) — the probe is otherwise its own Spark job at
    # query-construction time. The mean always comes from the one
    # corpus_mean aggregate, so every near-dup path bands alike.
    mu = (np.array(corpus_mean(emb, dim), dtype=np.float64)
          if center else np.zeros(dim, dtype=np.float64))
    n_planes = n_bands * band_bits
    w = plane_matrix(dim, n_planes)
    # per-band MSB-first packing: plane p contributes bit (band_bits-1 - p%band_bits)
    pack = np.zeros((n_planes, n_bands), dtype=np.int64)
    for p in range(n_planes):
        pack[p, p // band_bits] = 1 << (band_bits - 1 - p % band_bits)
    band_ids = np.arange(n_bands, dtype=np.int32)

    def mapper(batches):
        import pyarrow as pa
        for rb in batches:
            if not rb.num_rows:
                continue
            E = _batch_matrix(rb.column("embedding"), rb.num_rows)
            qE = np.floor((E - mu) * QUANT + 0.5).astype(np.int64)
            bits = ((qE @ w.T) > 0).astype(np.int64)   # (batch, n_planes)
            keys = bits @ pack                         # (batch, n_bands)
            vids = rb.column("vec_id").to_numpy(
                zero_copy_only=False).astype(np.int64)
            yield pa.record_batch(
                [pa.array(np.repeat(vids, n_bands)),
                 pa.array(np.tile(band_ids, len(vids))),
                 pa.array(keys.reshape(-1))],
                names=["vec_id", "band", "key"])

    return emb.select("vec_id", "embedding").mapInArrow(mapper, schema)


# corpus size cap for near_dup_pairs' bucket-local path: n * (dim*8 + 8)
# bytes of float64 matrix must fit comfortably in every executor (and
# the driver pulls it once). Above the cap, near_dup_pairs takes the
# join path (_pair_cosines).
PAIR_COS_BROADCAST_BYTES = 64 << 20


def _pair_cosines(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """(probe_id, vec_id) candidate pairs -> + cosine, in the oracle's
    operation order (dot of RAW doubles / product of norms), rounded to
    6dp JVM-side (Spark/DuckDB share HALF_UP). Two equi-joins on vec_id
    (AQE broadcasts when a side is small) + vectorized numpy cosines —
    the shape that needs no corpus broadcast, so it holds at any size."""
    import numpy as np

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    e = emb.select("vec_id", "embedding")
    j = (pairs
         .join(e.select(F.col("vec_id").alias("probe_id"),
                        F.col("embedding").alias("pv")), "probe_id")
         .join(e.select("vec_id", F.col("embedding").alias("cv")), "vec_id"))

    def cos_mapper(batches):
        import pyarrow as pa
        for rb in batches:
            if not rb.num_rows:
                continue
            P = _batch_matrix(rb.column("pv"), rb.num_rows)
            C = _batch_matrix(rb.column("cv"), rb.num_rows)
            cos = (np.einsum("ij,ij->i", P, C)
                   / (_safe_norms(P) * _safe_norms(C)))
            yield pa.record_batch(
                [rb.column("probe_id"), rb.column("vec_id"),
                 pa.array(cos)],
                names=["probe_id", "vec_id", "cos"])

    out = j.select("probe_id", "vec_id", "pv", "cv").mapInArrow(
        cos_mapper, schema="probe_id long, vec_id long, cos double")
    return out.withColumn("cos", F.round("cos", 6))


def lsh_candidate_pairs(emb: DataFrame, probe_max_id: int | None = None,
                        max_bucket: int | None = MAX_BAND_BUCKET,
                        n_bands: int = LSH_BANDS,
                        band_bits: int = BAND_BITS,
                        center: bool = False,
                        distinct: bool = True) -> DataFrame:
    """Distinct (probe_id, vec_id) candidate pairs, probe_id < vec_id,
    agreeing on at least one capped band. probe_max_id=None -> whole-corpus
    self-join (dedup); otherwise only probes with vec_id <= probe_max_id.
    Buckets holding > max_bucket vectors are dropped (hot-bucket guard —
    a degenerate bucket of templated/zero embeddings can no longer turn
    the join quadratic; mirrored in the DuckDB oracle). band_bits trades
    recall radius for selectivity (production default 16; the driver's
    sf-testdata oracle runs the same path at 6 because the synthetic
    embeddings carry no near-dups — max pairwise cos ~0.51)."""
    bands = lsh_band_keys(emb, n_bands, band_bits, center)
    # consumed 4x (bucket sizes + both join sides): materialize the
    # numpy banding pass once (~24 B/row) instead of re-running it.
    # Eager: a lazy localCheckpoint fires the listener with an empty
    # CollectMetrics accumulator and would poison any upstream
    # Observation (see dedup.lsh_candidate_pairs)
    bands = bands.localCheckpoint(eager=True)
    bands = _cap_buckets(bands, ["band", "key"], max_bucket)
    probes = bands.select(F.col("vec_id").alias("probe_id"), "band", "key")
    if probe_max_id is not None:
        probes = probes.filter(F.col("probe_id") <= probe_max_id)
    out = (bands.join(probes, ["band", "key"])
           .filter(F.col("probe_id") < F.col("vec_id"))
           .select("probe_id", "vec_id"))
    # distinct=False defers pair dedup to AFTER the cosine filter (a
    # pair matching several bands yields the same rounded cosine, so
    # dedup commutes with the filter): the exchange+hash-agg then runs
    # on the few surviving rows instead of every multi-band candidate.
    return out.distinct() if distinct else out


def ann_lsh_candidates(emb: DataFrame, probe_max_id: int,
                       max_bucket: int | None = MAX_BAND_BUCKET,
                       n_bands: int = LSH_BANDS,
                       band_bits: int = BAND_BITS,
                       center: bool = False) -> DataFrame:
    """Banded sign-LSH ANN: probes join the corpus only within shared
    (capped) band buckets — a shuffle equi-join on (band, key), no
    broadcast of the corpus, no cross product; the 100 TB shape when the
    probe set is too large to broadcast. Returns (probe_id, vec_id, cos),
    rounded to 6dp for cross-engine determinism."""
    cand = lsh_candidate_pairs(emb, probe_max_id, max_bucket,
                               n_bands, band_bits, center, distinct=False)
    return _pair_cosines(emb, cand).distinct()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer alternative to sign-LSH.
# Deterministic throughout: centroid training is seeded by data order, so
# index builds are repeatable across runs/retries.
# ---------------------------------------------------------------------------

IVF_LISTS = 16
IVF_NPROBE = 4


def ivf_train_matrix(X, n_lists: int = IVF_LISTS, iters: int = 10):
    """Pure-numpy deterministic mini k-means (spherical — assignment by
    max cosine) over a sample matrix. Init = first n_lists rows; empty
    clusters keep their previous centroid. Returns a normalized
    (n_lists, dim) float64 matrix. Shared verbatim with the DuckDB
    oracle builder in __spark_entry__.py — identical input rows give
    bit-identical centroids, which is what lets the oracle SQL embed
    them as literals."""
    import numpy as np
    X = np.asarray(X, dtype=np.float64)
    Xn = X / _safe_norms(X)[:, None]
    k = min(n_lists, len(Xn))
    C = Xn[:k].copy()
    for _ in range(iters):
        sims = Xn @ C.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    C[j] = m / nrm
    return C


def ivf_train(emb: DataFrame, n_lists: int = IVF_LISTS,
              sample: int = 4096, iters: int = 10):
    """Train the coarse quantizer over a driver-side SAMPLE (the standard
    IVF recipe: the index trains on a sample, assignment scans the
    corpus) — first ``sample`` vectors in vec_id order, so index builds
    are repeatable across runs/retries."""
    import numpy as np
    rows = (emb.orderBy("vec_id").limit(sample)
            .select("embedding").collect())
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ivf_train_matrix(X, n_lists, iters)


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, list_id): one numpy mapInPandas pass assigns every vector
    to its nearest centroid. Nearness = dot(RAW embedding, normalized
    centroid) — the argmax is identical to max-cosine (the row norm is a
    positive constant) but skips the row normalization whose summation
    order differs between engines. Dots are rounded to 6dp before the
    argmax (ties -> lowest centroid id), so the DuckDB oracle reproduces
    every assignment exactly."""
    import numpy as np
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    bc = emb.sparkSession.sparkContext.broadcast(centroids)

    def mapper(batches):
        import pyarrow as pa
        C = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            E = _batch_matrix(rb.column("embedding"), rb.num_rows)
            sims = np.round(E @ C.T, 6)
            # argmax takes the FIRST max -> lowest centroid id on ties
            lists = sims.argmax(axis=1).astype(np.int64)
            yield pa.record_batch(
                [rb.column("vec_id"), pa.array(lists)],
                names=["vec_id", "list_id"])

    return emb.select("vec_id", "embedding").mapInArrow(
        mapper, schema="vec_id long, list_id long")


def ann_ivf_topk(emb: DataFrame, probe_max_id: int, k: int = 5,
                 n_lists: int = IVF_LISTS, nprobe: int = IVF_NPROBE
                 ) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in ONE inverted list each;
    probes fan out to their nprobe nearest lists (multi-probe, by the
    same rounded centroid dot with stable ties) and join only those
    lists — an equi-join on list_id, never a cross product. Exact
    cosines + top-k re-rank on candidates. Deterministic end-to-end and
    mirrored by the ann_ivf DuckDB oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    C = ivf_train(emb, n_lists)
    assigned = ivf_assign(emb, C)
    bc = emb.sparkSession.sparkContext.broadcast((C, nprobe))

    def probe_mapper(batches):
        import pyarrow as pa
        Cv, np_probe = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            P = _batch_matrix(rb.column("embedding"), rb.num_rows)
            sims = np.round(P @ Cv.T, 6)
            # stable sort on -sims -> ties resolve to the lower list id
            order = np.argsort(-sims, axis=1, kind="stable")[:, :np_probe]
            vids = rb.column("vec_id").to_numpy(
                zero_copy_only=False).astype(np.int64)
            yield pa.record_batch(
                [pa.array(np.repeat(vids, order.shape[1])),
                 pa.array(order.reshape(-1).astype(np.int64))],
                names=["probe_id", "list_id"])

    probes = (emb.filter(F.col("vec_id") <= probe_max_id)
              .select("vec_id", "embedding")
              .mapInArrow(probe_mapper,
                          schema="probe_id long, list_id long"))
    cand = (assigned.join(probes.select("probe_id", "list_id"), "list_id")
            .filter(F.col("probe_id") != F.col("vec_id"))
            .select("probe_id", "vec_id"))
    pairs = _pair_cosines(emb, cand)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cos", "rank"))


def embed_text(docs: DataFrame, dim: int = 32) -> DataFrame:
    """(vec_id, embedding): deterministic hashing-trick bag-of-words
    embedding — token t adds 1 to dimension md5_60(t) % dim. The exact-
    integer stand-in for a real text encoder (swap in a model server /
    sentence-transformer batch UDF inside this same mapper; everything
    downstream — banded LSH, cosine, IVF — is unchanged). MAP-ONLY: a
    document is one row, so one numpy Arrow pass hashes each DISTINCT
    token per batch and bincounts dimensions per doc — zero shuffle (the
    previous explode + two aggregates paid two). Integer counts ->
    bit-identical vectors in the DuckDB oracle; docs with zero tokens
    emit no row (same semantics as the aggregate formulation)."""
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value
    from .dedup import md5_60_of_distinct_batch  # the ONE md5-60 kernel

    def mapper(batches):
        import numpy as np
        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            ids = np.asarray(pdf["doc_id"], dtype=np.int64)
            tb = core.batch_tokenize(texts)
            counts = np.asarray(tb.counts, dtype=np.int64)
            nz = counts > 0
            if not nz.any():
                continue
            codes, h60 = md5_60_of_distinct_batch(tb, core)
            d_of_uniq = (h60 % np.uint64(dim)).astype(np.int64)
            doc_of = np.asarray(tb.doc_of, dtype=np.int64)
            flat = doc_of * dim + d_of_uniq[codes]
            E = np.bincount(flat, minlength=len(texts) * dim) \
                .reshape(len(texts), dim).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids[nz],
                                "embedding": list(E[nz])})

    return docs.select("doc_id", "text").mapInPandas(
        mapper, schema="vec_id long, embedding array<float>")


def near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                   max_bucket: int | None = MAX_BAND_BUCKET,
                   n_bands: int = LSH_BANDS,
                   band_bits: int = BAND_BITS,
                   center: bool = False) -> DataFrame:
    """Embedding-cosine NEAR-DUP dedup over the whole corpus: banded
    sign-LSH SELF-join (capped buckets — never all-pairs, never a hot
    degenerate bucket) + exact cosine filter on candidates. Returns
    (probe_id, vec_id, cos) with probe_id < vec_id, cos >= threshold.
    Near-identical vectors (theta ~ 0) agree on a full 16-bit band with
    prob ~(1-theta/pi)^16 per band, any of 4 bands -> recall ~1 on true
    near-dups, while unrelated vectors almost never share a band."""
    # The emb plan is consumed ~5x (dim probe, corpus mean when
    # centering, band keys, and the candidate cosines). When emb is an
    # expensive computed plan — embed_text's Arrow tokenize+md5 pass in
    # dedup_text_embedding — every consumer re-ran the whole Python
    # stage. Materialize it once (~(dim+1)*8 bytes/row); eager so an
    # upstream Observation is never poisoned (see
    # dedup.lsh_candidate_pairs).
    emb = emb.localCheckpoint(eager=True)
    first = emb.select("embedding").first()
    if first is None:
        return emb.sparkSession.createDataFrame(
            [], "probe_id long, vec_id long, cos double")
    dim = len(first["embedding"])
    # ONE bounded collect decides the path AND feeds it: read at most
    # cap_rows+1 rows — within the broadcast budget that IS the corpus
    # matrix (no separate count/toPandas jobs); one row
    # over means fall back to the join path (the read stays bounded at
    # any corpus size: limit pushes into the scan)
    cap_rows = PAIR_COS_BROADCAST_BYTES // (dim * 8 + 8)
    pdf = (emb.select("vec_id", "embedding")
           .limit(cap_rows + 1).toPandas())
    if len(pdf) <= cap_rows:
        return _near_dup_bucket_local(emb, pdf, dim, threshold,
                                      max_bucket, n_bands, band_bits,
                                      center)
    # 100 TB fallback (corpus matrix too big to broadcast): band
    # self-join to candidate pairs + per-pair cosine re-join
    cand = lsh_candidate_pairs(emb, None, max_bucket, n_bands, band_bits,
                               center, distinct=False)
    return (_pair_cosines(emb, cand)
            .filter(F.col("cos") >= threshold)
            .select("probe_id", "vec_id", "cos")
            .distinct())


def _near_dup_bucket_local(emb: DataFrame, pdf, dim: int,
                           threshold: float,
                           max_bucket: int | None, n_bands: int,
                           band_bits: int, center: bool) -> DataFrame:
    """Bucket-local candidate generation + cosine (guide §8: the band
    SELF-join materialized every candidate pair as JVM rows — ~12M rows
    through a join, a distinct exchange, and the Python boundary for
    sf1.0's dedup_text_embedding, ~5-6 s of pure pair plumbing. With
    the corpus matrix broadcast (near_dup_pairs' gate:
    PAIR_COS_BROADCAST_BYTES), one Arrow pass over the ~200k-row capped
    band table — repartitioned so each (band, key) bucket is one
    contiguous sorted run — generates each bucket's pairs and their
    cosines IN NUMPY and emits only rows near the threshold; the join,
    the pair exchange, and the boundary rows all disappear.

    Exactness: pair set is identical (same capped buckets, same a < b
    orientation, duplicates across bands collapsed by the same final
    distinct; the band keys use the same corpus_mean when centering);
    cosines use the identical einsum row-dot as the join path's
    _pair_cosines; the Python-side prefilter keeps everything above
    threshold - 1e-6 RAW, which cannot drop a pair whose HALF_UP-rounded
    6dp cosine reaches the threshold (|round(c) - c| <= 0.5e-6), and
    the authoritative round+filter stays JVM-side as before."""
    import numpy as np

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    M = np.array(list(pdf["embedding"]), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    norms = _safe_norms(M)
    bands = lsh_band_keys(emb, n_bands, band_bits, center, dim=dim)
    bands = bands.localCheckpoint(eager=True)
    bands = _cap_buckets(bands, ["band", "key"], max_bucket)
    bc = emb.sparkSession.sparkContext.broadcast((ids, M, norms))
    raw_floor = threshold - 1e-6
    PAIR_CHUNK = 1 << 18

    def mapper(batches):
        import pyarrow as pa
        b_ids, b_m, b_norms = bc.value
        tbls = [pa.Table.from_batches([rb]) for rb in batches
                if rb.num_rows]
        if not tbls:
            return
        tbl = pa.concat_tables(tbls).combine_chunks()
        band = tbl.column("band").to_numpy(zero_copy_only=False)
        key = tbl.column("key").to_numpy(zero_copy_only=False)
        vid = tbl.column("vec_id").to_numpy(
            zero_copy_only=False).astype(np.int64)
        # bucket = contiguous run of (band, key) after the secondary
        # sort; order within run by vec_id asc -> triu pairs are a < b
        bk = band.astype(np.int64) * (1 << 32) + key  # injective combine
        chg = np.nonzero(np.diff(bk))[0] + 1
        starts = np.concatenate(([0], chg, [bk.size]))
        out_p, out_c, out_cos = [], [], []
        for s, e in zip(starts[:-1], starts[1:]):
            B = e - s
            if B < 2:
                continue
            v = vid[s:e]
            vrow = np.searchsorted(b_ids, v)
            ii, jj = np.triu_indices(B, k=1)
            for o in range(0, ii.size, PAIR_CHUNK):
                i = ii[o:o + PAIR_CHUNK]
                j = jj[o:o + PAIR_CHUNK]
                pi = vrow[i]
                ci = vrow[j]
                cos = (np.einsum("ij,ij->i", b_m[pi], b_m[ci])
                       / (b_norms[pi] * b_norms[ci]))
                keep = cos >= raw_floor
                if keep.any():
                    out_p.append(v[i][keep])
                    out_c.append(v[j][keep])
                    out_cos.append(cos[keep])
        if out_p:
            yield pa.record_batch(
                [pa.array(np.concatenate(out_p)),
                 pa.array(np.concatenate(out_c)),
                 pa.array(np.concatenate(out_cos))],
                names=["probe_id", "vec_id", "cos"])

    stream = (bands.repartition("band", "key")
              .sortWithinPartitions("band", "key", "vec_id"))
    out = stream.select("band", "key", "vec_id").mapInArrow(
        mapper, schema="probe_id long, vec_id long, cos double")
    return (out.withColumn("cos", F.round("cos", 6))
            .filter(F.col("cos") >= threshold)
            .select("probe_id", "vec_id", "cos")
            .distinct())
