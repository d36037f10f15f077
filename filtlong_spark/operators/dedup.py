"""Deduplication operators for a training-data pipeline.

Beyond the reference's scope (it aborts on duplicate names,
src/main.cpp:113-117) — these are the dedup stages a 100 TB corpus needs:

- exact: normalize -> md5 -> groupBy (one shuffle on the hash; at scale,
  pre-partition by hash prefix and the agg is map-side-heavy)
- minhash + LSH: shingle -> k md5-permutation minhashes -> band -> bucket
  join. All JVM-side (explode + groupBy min), no Python.
- simhash: 16-bit weighted-bit fingerprint from token md5s
- n-gram Jaccard: shared-shingle candidate join + exact Jaccard
- embedding cosine near-dup lives in operators/similarity.py

Every operator here is mirrored by an exact DuckDB SQL oracle in
__spark_entry__.py (same md5-derived hashes -> identical values in both
engines, no float ambiguity except cosine, which is rounded).

Tokenization: every Python window/shingle kernel tokenizes with
core.batch_tokenize, which splits on Java whitespace ([ \\t\\n\\x0B\\f\\r])
exactly as Catalyst's regexp_extract_all(text, '\\S+') does, on any
input: NBSP, ideographic space and the other Unicode-only spaces stay
inside tokens. The DuckDB mirrors (RE2 \\S) agree everywhere except on
vertical tab (\\x0B), which RE2 keeps inside a token; the oracle SQL keeps
RE2's \\S, and the corpora it checks hold no vertical tab.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

NORM_EXPR = "replace(text, ' dup', '')"  # testdata near-dup normalizer


def _doc_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle): distinct word n-gram shingles per doc, built
    MAP-SIDE in one Arrow pass — zero shuffle, parallelism = input
    partitions. Fully vectorized (the round-5 per-doc Python loop with
    a per-shingle ' '.join is gone): flat batch tokenization
    (core.batch_tokenize), all windows via shifted-slice binary_join
    (core.flat_ngram_windows), per-doc distinct via an Arrow C++ hash
    group_by, and the result yielded as a RecordBatch — shingle strings
    never materialize as Python objects. (A Catalyst array-HOF
    formulation stays rejected: interpreted per element; a lead()-window
    one shuffles.)"""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value

    def mapper(batches):
        import numpy as np
        import pyarrow as pa
        for rb in batches:
            texts = [t if t is not None else ""
                     for t in rb.column("text").to_pylist()]
            ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            tb = core.batch_tokenize(texts)
            d, _, wins = core.flat_ngram_windows(tb, n)
            if not len(d):
                continue
            uniq = (pa.table({"d": pa.array(d), "shingle": wins})
                    .group_by(["d", "shingle"]).aggregate([]))
            du = uniq.column("d").to_numpy()
            yield pa.record_batch(
                [pa.array(ids[du].astype(np.int64)),
                 uniq.column("shingle").combine_chunks()],
                names=["doc_id", "shingle"])

    return docs.select("doc_id", "text").mapInArrow(
        mapper, schema="doc_id long, shingle string")


# Affine minhash permutations over the md5-derived 60-bit shingle hash:
# mh_h(s) = (A_h * (h60(s) mod P) + B_h) mod P, P = 2^31 - 1. One md5 per
# shingle (not one per seed!) and every product fits exactly in int64 /
# BIGINT, so both engines compute identical values. Constants are fixed
# literals mirrored into the SQL oracle.
MH_PRIME = (1 << 31) - 1


def _mh_params(n_hashes: int) -> tuple[list[int], list[int]]:
    a = [(2 * h + 1) * 2654435761 % MH_PRIME for h in range(n_hashes)]
    b = [(h * 40503 + 17) % MH_PRIME for h in range(n_hashes)]
    return a, b


def _doc_shingle_h60(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, h60): the md5-60 hash of every DISTINCT word n-gram
    shingle per doc — _doc_shingles with the hashing pulled INTO the
    mapper: shingle strings never leave Python (the JVM previously
    md5'd every (doc, shingle) row; here each distinct window of a
    batch hashes once via dictionary_encode + _md5_60_arrow, and the
    per-doc distinct runs on packed ints). Values equal
    conv(substring(md5(shingle), 1, 15), 16, 10) exactly."""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value

    def mapper(batches):
        import numpy as np
        import pyarrow as pa
        for rb in batches:
            texts = [t if t is not None else ""
                     for t in rb.column("text").to_pylist()]
            ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            tb = core.batch_tokenize(texts)
            d, _, wins = core.flat_ngram_windows(tb, n)
            if not len(d):
                continue
            de = wins.dictionary_encode()
            codes = de.indices.to_numpy(
                zero_copy_only=False).astype(np.int64)
            h60 = _md5_60_arrow(de.dictionary)
            K = len(de.dictionary)
            pairs = np.unique(d * K + codes)
            yield pa.record_batch(
                [pa.array(ids[pairs // K].astype(np.int64)),
                 pa.array(h60[pairs % K])],
                names=["doc_id", "h60"])

    return docs.select("doc_id", "text").mapInArrow(
        mapper, schema="doc_id long, h60 long")


def minhash_wide(docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """(doc_id, mh0..mh7): one Python shingling+hashing pass
    (_doc_shingle_h60 — shingle text never reaches the JVM) -> 8 affine
    permutations -> groupBy(doc_id).min. Partial aggregation collapses
    each partition to one row per doc before the shuffle, so the
    exchange carries ~32 bytes per doc — at corpus scale the plan is
    one Python pass + a near-free min-combine. mh values are identical
    to the previous JVM-md5 rendering (same 60-bit prefix; min over
    the same per-doc hash set)."""
    sh = _doc_shingle_h60(docs, shingle_n)
    a, b = _mh_params(N_HASHES)
    hm = F.col("h60") % F.lit(MH_PRIME)
    aggs = [F.min((F.lit(a[h]) * hm + F.lit(b[h])) % F.lit(MH_PRIME))
            .alias(f"mh{h}") for h in range(N_HASHES)]
    return sh.groupBy("doc_id").agg(*aggs)


def exact_dupes(docs: DataFrame, key_expr: str = NORM_EXPR) -> DataFrame:
    """Exact dedup groups: (text_hash, n_docs, keep_doc_id). keep = min id
    (first writer wins); groups of 1 are excluded (nothing to dedupe)."""
    return (docs
            .withColumn("text_hash", F.md5(F.expr(key_expr).cast("binary")))
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id"))
            .filter(F.col("n_docs") > 1))


N_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows


def minhash_signatures(docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """(doc_id, h (0..7), minhash): minhash_i = lexicographic min over the
    doc's shingles of md5(i || ':' || shingle). Explode + groupBy min —
    partial aggregation does the heavy lifting map-side."""
    wide = minhash_wide(docs, shingle_n)
    stack = ", ".join(f"{h}, mh{h}" for h in range(N_HASHES))
    return wide.selectExpr(
        "doc_id", f"stack({N_HASHES}, {stack}) AS (h, minhash)")


MAX_BAND_BUCKET = 1000  # hot-bucket guard (mirrored in the SQL oracle)


def _cap_buckets(bands: DataFrame, keys: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Drop band buckets holding more than max_bucket docs — a bucket of
    B docs yields B^2/2 candidate pairs, so one 10^6-doc duplicate
    cluster would otherwise explode the self-join. Clusters that large
    belong to EXACT dedup (run first in a real pipeline); the cap is
    mirrored in the DuckDB oracles."""
    if max_bucket is None:
        return bands
    sizes = (bands.groupBy(*keys).agg(F.count("*").alias("_bs"))
             .filter(F.col("_bs") <= max_bucket).drop("_bs"))
    return bands.join(sizes, keys)


def lsh_candidate_pairs(docs: DataFrame, shingle_n: int = 3,
                        max_bucket: int | None = MAX_BAND_BUCKET
                        ) -> DataFrame:
    """LSH banding: band key = concat of the band's minhashes; docs sharing
    a band bucket become candidate pairs (a < b). The join is on band_key —
    a self-equi-join on a high-cardinality key, shuffle-partitioned, no
    cross product; buckets above max_bucket docs are dropped (hot-key
    guard, see _cap_buckets)."""
    wide = minhash_wide(docs, shingle_n)
    n_bands = N_HASHES // BAND_ROWS
    band_rows = []
    for b in range(n_bands):
        hs = range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
        band_rows.append(
            (b, F.concat_ws("|", *[
                F.concat_ws(":", F.lit(str(h)), F.col(f"mh{h}")) for h in hs])))
    bands = wide.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
            for b, key in band_rows])).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.band_key").alias("band_key"))
    # the band table is consumed 4x (bucket sizes + both self-join
    # sides): localCheckpoint materializes the Python shingling pass
    # ONCE (~40 B/doc rows) instead of re-executing it per consumer.
    # MUST be eager: a lazy localCheckpoint fires the query-execution
    # listener with an empty CollectMetrics accumulator, permanently
    # poisoning any upstream Observation (pipeline.py's raw-char
    # counter) with None — eager fires it AFTER the job, with the
    # correct totals.
    bands = bands.localCheckpoint(eager=True)
    bands = _cap_buckets(bands, ["band", "band_key"], max_bucket)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


MAX_SHINGLE_DF = 1000  # hot-shingle guard (mirrored in the SQL oracle)


def jaccard_pairs(docs: DataFrame, shingle_n: int = 5,
                  threshold: float = 0.5,
                  max_doc_freq: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Exact n-gram Jaccard over shared-shingle candidates:
    (doc_a, doc_b, inter, union, jaccard >= threshold). Candidate
    generation via shingle equi-join (docs with no shared shingle never
    pair). Jaccard kept as an exact ratio of integers.

    Hot-shingle guard (the 100 TB survival rule): a boilerplate shingle
    appearing in 10^6 docs would turn the self-join into a 10^12-pair key.
    Shingles with document frequency > max_doc_freq are dropped from the
    UNIVERSE (both intersections and sizes), so Jaccard is computed over
    the informative shingles only — the standard stop-shingle semantics,
    mirrored exactly in the DuckDB oracle."""
    sh = _doc_shingles(docs, shingle_n)
    # consumed 4x (doc-frequency count, sizes, both join sides):
    # materialize the shingling pass once (eager: see the Observation
    # note in lsh_candidate_pairs)
    sh = sh.localCheckpoint(eager=True)
    if max_doc_freq is not None:
        dfreq = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
                 .filter(F.col("df") <= max_doc_freq))
        sh = sh.join(dfreq.select("shingle"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_sh", "n_a"), "doc_a")
           .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_sh", "n_b"), "doc_b")
           .withColumn("jaccard",
                       F.col("inter").cast("double")
                       / (F.col("n_a") + F.col("n_b") - F.col("inter")))
           .filter(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "inter", "jaccard"))
    return out


# most candidate pairs connected_components resolves on the driver:
# 16 MiB as two int64 ids per pair
DRIVER_CC_PAIRS = 1 << 20


def _components_local(a, b):
    """(node, rep) numpy arrays for the pair arrays ``a``/``b``: the Spark
    loop's round rule (each edge sends the smaller endpoint label to both
    endpoints and to both endpoints' labels), with each round's pointer
    jumping run to every chain's root, over dense node indices (np.unique
    sorts, so the smallest index is the smallest doc_id). Labels only
    ever fall to a smaller node of the same component, so the loop ends,
    and it ends with every component on its minimum."""
    import numpy as np
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    src, dst = idx[:len(a)], idx[len(a):]
    lab = np.arange(len(nodes))
    while True:
        m = np.minimum(lab[src], lab[dst])
        new = lab.copy()
        for to in (src, dst, lab[src], lab[dst]):
            np.minimum.at(new, to, m)
        hop = new[new]
        while (hop != new).any():  # pointer jumping to each chain's root
            new, hop = hop, hop[hop]
        if (new == lab).all():
            return nodes, nodes[lab]
        lab = new


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, rep): connected components of the near-dup pair graph via
    min-label propagation to fixpoint — the step that turns candidate
    PAIRS into keep/drop GROUPS (rep = smallest doc_id reachable).

    Size gate: the selected (doc_a, doc_b) pairs are evaluated once, into
    a lazy localCheckpoint that a limit(DRIVER_CC_PAIRS + 1) Arrow probe
    fills. A graph within DRIVER_CC_PAIRS is resolved on the driver
    (_components_local) and its labels come back as a local relation.
    The perfbench workloads all take this path; none builds a graph
    large enough for the loop below, so its cost is unmeasured there.

    Above DRIVER_CC_PAIRS, each round joins the (pairs-only, both
    directions) edge list with the label table on src and on dst; every
    edge sends m = min(rep[src], rep[dst]) to dst and to the node
    rep[src] (root hooking: a label moves to the whole tree hanging off
    it, not one edge further), then a min-aggregate and one pointer hop
    (rep := rep's rep). Only docs that appear in a pair participate.
    Without the hook a label moves about one edge per round along a
    chain whose ids are in random order (a 90-node chain needed > 20
    rounds); with it such chains settle in a few rounds that grow with
    log n. A loop still moving after max_iter rounds raises.
    localCheckpoint truncates the lineage each round (the iterative-Spark
    requirement — without it the logical plan grows without bound)."""
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    probe = pairs.limit(DRIVER_CC_PAIRS + 1).toArrow()
    if probe.num_rows <= DRIVER_CC_PAIRS:
        import pyarrow as pa
        node, rep = _components_local(probe.column("doc_a").to_numpy(),
                                      probe.column("doc_b").to_numpy())
        typ = probe.schema.field("doc_a").type
        key = pairs.schema["doc_a"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            pa.table({"node": pa.array(node, typ), "rep": pa.array(rep, typ)}),
            f"node {key}, rep {key}")
    # the probe filled the checkpoint: the loop reads the pairs from it
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("rep", F.col("node")).localCheckpoint())
    changed = 0
    for _ in range(max_iter):
        msgs = (edges
                .join(labels.select(F.col("node").alias("src"),
                                    F.col("rep").alias("rs")), "src")
                .join(labels.select(F.col("node").alias("dst"),
                                    F.col("rep").alias("rd")), "dst")
                .select(F.explode(F.array("dst", "rs")).alias("node"),
                        F.least("rs", "rd").alias("rep")))
        new_labels = (msgs.union(labels.select("node", "rep"))
                      .groupBy("node").agg(F.min("rep").alias("rep")))
        # pointer jump: follow one extra hop through the rep chain
        # (renamed-column self-join: alias() resolution through a pending
        # localCheckpoint trips an AttributeMap miss in Spark 4.1)
        hop = new_labels.select(F.col("node").alias("jnode"),
                                F.col("rep").alias("jrep"))
        new_labels = (new_labels
                      .join(hop, F.col("rep") == F.col("jnode"), "left")
                      .select("node",
                              F.coalesce("jrep", "rep").alias("rep"))
                      .localCheckpoint())
        changed = (new_labels.join(
            labels.withColumnRenamed("rep", "old"), "node")
            .filter(F.col("rep") < F.col("old")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed > 0:
        # exiting via the iteration cap with labels still moving means a
        # WRONG dedup grouping, not a crash — make it loud (with root
        # hooking the rounds grow with log n, so only a graph far beyond
        # any near-dup candidate set gets here)
        raise RuntimeError(
            f"Error: connected_components did not converge within "
            f"{max_iter} iterations ({changed} labels still changing); "
            "raise max_iter")
    return labels


def dedup_assign(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Final dedup labels for EVERY doc: (doc_id, rep_id, is_dup) — docs
    outside any pair represent themselves; within a component the
    smallest doc_id survives (first-writer-wins, like exact_dupes)."""
    comps = connected_components(pairs)
    return (docs.select("doc_id")
            .join(comps.withColumnRenamed("node", "doc_id"), "doc_id",
                  "left")
            .select("doc_id",
                    F.coalesce("rep", F.col("doc_id")).alias("rep_id"))
            .withColumn("is_dup", F.col("rep_id") != F.col("doc_id")))


# --- pipeline composition (FilterConfig.near_dup_dedup /
# --- line_dedup_min_df): the bridges from url-keyed PAGES to the
# --- doc_id-keyed dedup operators above ------------------------------------

def url_doc_key(col: Column | str = "url") -> Column:
    """int64 dedup key for a url-keyed page: the md5-60 prefix (the
    width of the repo's one shared hash kernel, _md5_60_arrow — mirrored
    in DuckDB as ('0x' || substr(md5(url), 1, 15))::BIGINT). 60-bit
    collisions (expected ~n^2/2^61 pairs, ~10^5 at 10^12 docs) can only
    cause a FALSE near-dup drop of one page — acceptable for a dedup
    verdict, unlike a scoring-identity key (see lm.py's loud-failure
    stance for that case)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15),
                  16, 10).cast("long")


def near_dup_url_labels(pages: DataFrame, method: str) -> DataFrame:
    """(url, is_dup) for every page: banded near-dup candidate pairs
    ('simhash' | 'minhash') -> connected components -> within each
    component the min-key page survives, the rest are duplicates. The
    scale shape is the underlying operators' (capped banded equi-joins +
    min-label propagation); this adds only a doc-grain key projection
    and the verdict join back to urls."""
    docs = pages.select("url", url_doc_key("url").alias("doc_id"), "text")
    if method == "simhash":
        pairs = simhash_pairs(docs)
    elif method == "minhash":
        pairs = lsh_candidate_pairs(docs, shingle_n=3)
    else:
        raise ValueError(f"Error: unknown near_dup_dedup {method!r}")
    assign = dedup_assign(docs, pairs)
    return (docs.select("url", "doc_id").join(assign, "doc_id")
            .select("url", "is_dup"))


def line_clean_pages(pages: DataFrame, min_df: int,
                     text_col: str = "text", hot=None) -> DataFrame:
    """Replace each page's text with its line-dedup-cleaned text (see
    line_dedup), preserving every other column and its order. ``hot``:
    a precomputed boilerplate hash set (line_hot_hashes) — the cleaning
    is then one map-only Arrow pass with no line-grain count; without it
    the set is counted over ``pages`` (distinct urls per line). Every
    column rides through the mapper, so there is no join back on url."""
    if hot is None:
        hot = line_hot_hashes(pages, min_df, key="url", text_col=text_col)
    return pages.mapInArrow(_line_clean_mapper(pages, hot, text_col,
                                               text_col),
                            schema=pages.schema)


LINE_DEDUP_MIN_DF = 50


def line_hot_hashes(docs: DataFrame, min_df: int, key: str = "doc_id",
                    text_col: str = "text") -> "np.ndarray":
    """Sorted int64 md5-60 hashes of the lines occurring in >= min_df
    distinct ``key`` values — the boilerplate set line_dedup removes.
    ONE line-grain shuffle of (hash, key) pairs (line text never rides
    an exchange); blank lines are never counted. The set is tiny by
    construction (<= total_lines / min_df entries) and collects to the
    driver."""
    import numpy as np
    lines = docs.select(
        key, F.explode(F.split(F.col(text_col), "\n", -1)).alias("line"))
    hline = F.conv(F.substring(F.md5(F.col("line").cast("binary")), 1, 15),
                   16, 10).cast("long")
    hot_rows = (lines.filter(F.trim(F.col("line")) != "")
                .select(hline.alias("h"), key)
                .groupBy("h").agg(F.countDistinct(key).alias("df"))
                .filter(F.col("df") >= min_df)
                .select("h").collect())
    return np.sort(np.array([r["h"] for r in hot_rows], dtype=np.int64))


def _line_clean_mapper(docs: DataFrame, hot, text_col: str, out_col: str):
    """mapInArrow function: ``text_col`` of every batch replaced by its
    text with the ``hot`` lines dropped (renamed ``out_col``), all other
    columns passed through. One split, one md5 over the value buffer
    (dedup._md5_60_arrow) and a sorted-set probe per batch."""
    import numpy as np

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    bc = docs.sparkSession.sparkContext.broadcast(hot)

    def mapper(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        hot_v = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            txt = pc.fill_null(rb.column(text_col), "")
            parts = pc.split_pattern(txt, "\n")
            counts = pc.list_value_length(parts).to_numpy(
                zero_copy_only=False).astype(np.int64)
            flat = parts.flatten()
            if hot_v.size and len(flat):
                h = _md5_60_arrow(flat.combine_chunks()
                                  if isinstance(flat, pa.ChunkedArray)
                                  else flat)
                idx = np.searchsorted(hot_v, h)
                idx[idx == hot_v.size] = 0
                keep = hot_v[idx] != h
            else:
                keep = np.ones(len(flat), dtype=bool)
            surv = np.zeros(rb.num_rows, dtype=np.int64)
            if len(flat):
                doc_of = np.repeat(np.arange(rb.num_rows), counts)
                surv = np.bincount(doc_of[keep], minlength=rb.num_rows)
            soff = np.zeros(rb.num_rows + 1, dtype=np.int64)
            np.cumsum(surv, out=soff[1:])
            values = flat.filter(pa.array(keep)) if len(flat) \
                else flat
            clean = pc.binary_join(
                pa.ListArray.from_arrays(
                    pa.array(soff, type=pa.int32()), values), "\n")
            names = rb.schema.names
            yield pa.record_batch(
                [clean if n == text_col else rb.column(n) for n in names],
                names=[out_col if n == text_col else n for n in names])

    return mapper


def line_dedup(docs: DataFrame, min_df: int = LINE_DEDUP_MIN_DF,
               text_col: str = "text") -> DataFrame:
    """(doc_id, text_clean): LINE-level boilerplate removal — the
    CCNet/RefinedWeb dedup grain between exact-doc and near-doc: a line
    occurring in >= min_df DISTINCT documents (cookie banners,
    nav/footer boilerplate) is removed from every document; surviving
    lines re-join in original order. Blank lines are never counted as
    boilerplate (they'd all collapse onto one key).

    Scale shape: ONE line-grain shuffle of (md5-60 hash, doc_id) int
    pairs (line_hot_hashes) — line TEXT never rides an exchange — then
    the boilerplate hash set broadcasts and one map-only Arrow pass
    splits, hashes, drops members, and re-joins survivors in order. The
    60-bit key follows the url_doc_key precedent: a collision (expected
    ~n^2/2^61 line pairs) can only misclassify one line as boilerplate
    — acceptable for a dedup verdict. Mirrored by the dedup_lines
    DuckDB oracle (same split, same trim-blank exclusion, same
    min_df)."""
    hot = line_hot_hashes(docs, min_df, text_col=text_col)
    key_type = dict(docs.dtypes)["doc_id"]
    docs = docs.select("doc_id", text_col)
    return docs.mapInArrow(
        _line_clean_mapper(docs, hot, text_col, "text_clean"),
        schema=f"doc_id {key_type}, text_clean string")


SIMHASH_BITS = 60     # production width: first 15 md5 hex chars -> exact
SIMHASH_BANDS = 4     # BIGINT in both engines; 4 bands x 15 bits
SIMHASH_MAX_DIST = 3  # any d<=3 pair must agree on >=1 band (pigeonhole)


def simhash_pairs(docs: DataFrame,
                  max_dist: int = SIMHASH_MAX_DIST,
                  max_bucket: int | None = MAX_BAND_BUCKET) -> DataFrame:
    """SimHash near-duplicate PAIRS: bit-sampling LSH over the 60-bit
    fingerprints (4 bands x 15 bits — two docs within hamming distance 3
    must agree on at least one band, since 3 flipped bits touch at most 3
    bands), then the exact hamming check bit_count(a XOR b) <= max_dist
    on candidates only. The join is a banded self-equi-join, never
    all-pairs, with a 2^15 key universe per band and the hot-bucket cap
    on top — at real corpus size band buckets stay small instead of
    collapsing onto 16 keys (the round-2 toy width's failure mode)."""
    return simhash_band_pairs(simhash(docs), max_dist, max_bucket)


def simhash_band_pairs(fps: DataFrame,
                       max_dist: int = SIMHASH_MAX_DIST,
                       max_bucket: int | None = MAX_BAND_BUCKET
                       ) -> DataFrame:
    """Banded near-dup join over precomputed (doc_id, simhash)
    fingerprints (see simhash_pairs for the semantics)."""
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    bands = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("simhash", b * band_w)
                     .bitwiseAND(F.lit((1 << band_w) - 1)).alias("key"))
            for b in range(SIMHASH_BANDS)])).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    # consumed 4x (bucket sizes + both self-join sides): materialize the
    # fingerprint mapper once instead of re-running it per consumer
    # (eager: see the Observation note in lsh_candidate_pairs)
    bands = bands.localCheckpoint(eager=True)
    bands = _cap_buckets(bands, ["band", "key"], max_bucket)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.expr("bit_count(a.simhash ^ b.simhash)")
                     .alias("hamming"))
             .filter(F.col("hamming") <= max_dist)
             .distinct())
    return pairs


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit simhash — bit b of md5's first 60 bits
    per token votes +1/-1 weighted by token multiplicity; fingerprint
    bit = 1 iff the vote sum > 0. MAP-ONLY: one Arrow-batched numpy pass
    per input partition hashes each DISTINCT token once (web tokens
    repeat heavily), unpacks its 60 bits, and segment-sums the votes per
    doc — a document is one row, so the whole fingerprint computes
    without ANY shuffle (the previous explode + 60-wide conditional
    aggregate paid two shuffles and a 60-column agg; at corpus scale
    this is a pure scan). Integer votes + the identical md5-prefix hash
    -> bit-identical values in the DuckDB oracle. Docs with zero tokens
    emit no row (same semantics as the aggregate formulation)."""
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value

    def mapper(batches):
        import numpy as np
        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            ids = np.asarray(pdf["doc_id"], dtype=np.int64)
            nz, fp = simhash_of_texts(texts, core)
            if not nz.any():
                continue
            yield pd.DataFrame({"doc_id": ids[nz], "simhash": fp})

    return docs.select("doc_id", "text").mapInPandas(
        mapper, schema="doc_id long, simhash long")


def md5_60_of_distinct_batch(tb, core):
    """(codes, h60) for a whole TokenBatch: factorize its tokens and
    md5-hash each DISTINCT token once to its 60-bit prefix (first 15 hex
    chars), the kernel the simhash votes and the hashed-BoW embedding
    dims share; both DuckDB oracles depend on this exact prefix width.
    No Python token strings: Arrow dictionary_encode over the
    buffer-built token array (first-appearance codes) + _md5_60_arrow
    over the distinct dictionary."""
    import numpy as np
    arr = core.batch_token_array(tb)
    de = arr.dictionary_encode()
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    h60 = _md5_60_arrow(de.dictionary).astype(np.uint64)
    return codes, h60


def simhash_of_texts(texts, core):
    """Per-batch fingerprint kernel of the simhash operator: (has_tokens
    mask, int64 fingerprints for the masked docs). One md5 per DISTINCT
    token, segment-summed bit votes per doc. ``core`` is passed in (not
    imported here) so callers capture it at closure-definition time and
    the pickled UDF stays self-contained on workers without
    --py-files."""
    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts)
    tb = core.batch_tokenize(texts)
    counts = np.asarray(tb.counts, dtype=np.int64)
    nz = counts > 0
    if not nz.any():
        return nz, np.zeros(0, dtype=np.int64)
    codes, h60 = md5_60_of_distinct_batch(tb, core)
    # (U, 60) bit matrix for the distinct tokens, gathered back to
    # token grain; vote[d, b] = 2*sum(bits) - n_tokens[d]
    bits = ((h60[:, None] >> shifts[None, :])
            & np.uint64(1)).astype(np.int64)
    tok_bits = bits[codes]
    offsets = np.concatenate(([0], np.cumsum(counts)))[:-1][nz]
    seg = np.add.reduceat(tok_bits, offsets, axis=0)
    votes = 2 * seg - counts[nz][:, None]
    fp = ((votes > 0).astype(np.uint64) * weights[None, :]) \
        .sum(axis=1).astype(np.int64)
    return nz, fp


def decontaminate(docs: DataFrame, bench_docs: DataFrame,
                  shingle_n: int = 5, min_hits: int = 3) -> DataFrame:
    """Benchmark decontamination — the 'remove evaluation-set overlap'
    stage every LLM training pipeline runs before the corpus ships
    (GPT-3 appendix C / Gopher A.8 13-gram rule): (doc_id, n_hits,
    contaminated) for every corpus doc, where n_hits counts the DISTINCT
    word n-grams the doc shares with ANY benchmark document and
    contaminated = n_hits >= min_hits.

    Scale shape: the benchmark side is small by construction (eval sets
    are 10^3-10^6 docs vs the 10^12-doc corpus), so its distinct shingle
    set is broadcast and the corpus-side probe is a map-only hash-join
    on the existing zero-shuffle shingling pass — no corpus-grain
    shuffle of anything but the (doc_id, n_hits) hit counts, which
    partial-aggregate map-side. The left join back to the full doc list
    keys on doc_id only (no text movement). Mirrored exactly by the
    decontaminate DuckDB oracle."""
    corpus_sh = _doc_shingles(docs, shingle_n)
    bench_sh = (_doc_shingles(bench_docs, shingle_n)
                .select("shingle").distinct())
    # _doc_shingles already emits DISTINCT shingles per doc, so the
    # post-probe count(*) is a distinct-shingle count.
    hits = (corpus_sh.join(F.broadcast(bench_sh), "shingle")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) >= min_hits)
                    .alias("contaminated")))


def _md5_60_arrow(arr) -> "np.ndarray":
    """60-bit md5 prefix of every element of an Arrow StringArray,
    hashing the utf-8 VALUE BUFFER directly through memoryview slices —
    no Python string objects, no hexdigest parse
    (int.from_bytes(digest[:8]) >> 4 == int(hexdigest[:15], 16))."""
    import hashlib

    import numpy as np
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset:arr.offset + n + 1]
    mv = memoryview(arr.buffers()[2])
    md5 = hashlib.md5
    return np.fromiter(
        (int.from_bytes(md5(mv[offs[i]:offs[i + 1]]).digest()[:8],
                        "big") >> 4 for i in range(n)),
        dtype=np.int64, count=n)


def _doc_windows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, whash): EVERY k-token window of every doc (1-based
    start position, NOT distinct — within-doc repeats count), whash =
    60-bit md5 prefix of the space-joined window. Hashing happens inside
    the Arrow mapper so the exchange downstream carries 16-byte rows,
    never window text. Zero shuffle; vectorized end-to-end (the round-5
    per-window ' '.join + hexdigest loop is gone): windows via
    core.flat_ngram_windows, md5 via _md5_60_arrow over the Arrow value
    buffer."""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core

    def mapper(batches):
        import numpy as np
        import pyarrow as pa
        for rb in batches:
            texts = [t if t is not None else ""
                     for t in rb.column("text").to_pylist()]
            ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            tb = core.batch_tokenize(texts)
            d, pos, wins = core.flat_ngram_windows(tb, k)
            if not len(d):
                continue
            yield pa.record_batch(
                [pa.array(ids[d].astype(np.int64)),
                 pa.array(pos.astype(np.int32)),
                 pa.array(_md5_60_arrow(wins))],
                names=["doc_id", "pos", "whash"])

    return docs.select("doc_id", "text").mapInArrow(
        mapper, schema="doc_id long, pos int, whash long")


def substring_dedup(docs: DataFrame, k: int = 8,
                    min_count: int = 2) -> DataFrame:
    """EXACT substring-level dedup at k-token window grain — the 'remove
    repeated substrings, not just repeated documents' stage (Lee et al.
    2022, 'Deduplicating Training Data Makes Language Models Better',
    which found ~1% of tokens sit in >=50-token spans repeated verbatim
    across web corpora; their suffix-array rule rendered distributable
    as fixed-width window hashing). A window occurring >= min_count
    times ANYWHERE in the corpus (other docs or the same doc) is
    duplicated; every token covered by a duplicated window is cut.
    Returns for EVERY input doc: (doc_id, n_windows, dup_windows,
    dup_frac, clean_text) where clean_text re-joins surviving tokens
    with single spaces (the token-grain contract; byte-level
    whitespace is not preserved at this grain by design).

    Scale shape: one map-only window-hash pass (text never leaves the
    scan), one window-grain count on 8-byte keys (partial agg collapses
    repeats map-side), one window-grain hash join back (duplicated-hash
    table is a small fraction of the corpus by Lee et al.'s own
    measurement), one doc-grain position list, and a final map-side
    rebuild that re-tokenizes locally instead of shuffling token text.
    No suffix array, no sort of the corpus, no all-pairs. Mirrored
    exactly by the dedup_substring DuckDB oracle."""
    import numpy as np
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    from .. import core

    # the window table is consumed twice (dup-hash count + the
    # join-back); materialize the hashing mapper once (16 B/row — the
    # plan previously showed TWO MapInPandas window passes). Eager:
    # see the Observation note in lsh_candidate_pairs.
    win = _doc_windows(docs, k).localCheckpoint(eager=True)
    dup = (win.groupBy("whash").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= min_count).select("whash"))
    hits = win.join(dup, "whash").select("doc_id", "pos")
    per_doc = hits.groupBy("doc_id").agg(
        F.collect_list("pos").alias("dup_pos"))
    joined = (docs.select("doc_id", "text")
              .join(per_doc, "doc_id", "left"))

    def rebuild(batches):
        # vectorized (round-5 looped per doc, re-tokenizing and joining
        # in Python): flat batch tokenize, covered-token mask via an
        # interval diff array + cumsum, survivor re-join via the Arrow
        # C++ binary_join over one ListArray — identical output
        # (windows never straddle docs, so every [p-1, p-1+k) interval
        # stays inside its doc's token range).
        import pyarrow as pa
        import pyarrow.compute as pc
        for rb in batches:
            ids = rb.column("doc_id").to_numpy(
                zero_copy_only=False).astype(np.int64)
            texts = [t if t is not None else ""
                     for t in rb.column("text").to_pylist()]
            nd = len(texts)
            tb = core.batch_tokenize(texts)
            counts = tb.counts
            T = tb.starts.size
            off = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(counts, out=off[1:])
            dp_col = rb.column("dup_pos").to_pylist()
            dup_n = np.fromiter(
                (0 if v is None else len(v) for v in dp_col),
                dtype=np.int64, count=nd)
            covered = np.zeros(T, dtype=bool)
            if dup_n.sum():
                flat_d = np.repeat(np.arange(nd), dup_n)
                flat_p = np.concatenate(
                    [np.asarray(v, dtype=np.int64)
                     for v in dp_col if v is not None and len(v)])
                starts = off[flat_d] + flat_p - 1
                diff = np.zeros(T + 1, dtype=np.int64)
                np.add.at(diff, starts, 1)
                np.add.at(diff, starts + k, -1)
                covered = np.cumsum(diff[:-1]) > 0
            keep = ~covered
            surv = np.bincount(tb.doc_of[keep], minlength=nd) \
                if T else np.zeros(nd, dtype=np.int64)
            soff = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(surv, out=soff[1:])
            values = core.batch_token_array(tb).filter(
                pa.array(keep)) if T else pa.array([], type=pa.string())
            clean = pc.binary_join(
                pa.ListArray.from_arrays(
                    pa.array(soff, type=pa.int32()), values),
                " ")
            n_win = np.maximum(counts - k + 1, 0)
            dup_frac = np.where(
                n_win > 0, dup_n / np.maximum(n_win, 1), 0.0)
            yield pa.record_batch(
                [pa.array(ids), pa.array(n_win.astype(np.int32)),
                 pa.array(dup_n.astype(np.int32)), pa.array(dup_frac),
                 clean],
                names=["doc_id", "n_windows", "dup_windows", "dup_frac",
                       "clean_text"])

    return joined.mapInArrow(
        rebuild, schema="doc_id long, n_windows int, dup_windows int, "
                        "dup_frac double, clean_text string")
