"""Bigram-LM scoring for mode='bigram_lm': core.bigram_prob /
bigram_quality, the per-token analog of the reference's Phred painting
(src/read.cpp:35-39), on one of three sub-paths picked by size:

  broadcast (lm_strategy='broadcast', or 'auto' while the pruned model
      holds at most LM_BROADCAST_MAX_ENTRIES entries): the whole model
      rides a broadcast variable into the intrinsic scorer
      (refset.build_broadcast) — bounded by the REFERENCE vocabulary,
      billions of rows at web scale. The two sub-paths below never
      collect a model table.
  verdict broadcast (a semi-join: Filtlong probes an in-RAM k-mer set,
      src/kmers.cpp:75-134):
      phase 1 (lm_verdicts): a narrow vocab-grain Arrow pass emits each
          batch's distinct (prev, tok) pairs; a distinct and one left join
          with the count tables paint each corpus pair into one flags
          byte (goodness_flags), collected while the corpus holds at most
          LM_VERDICT_MAX_KEYS pairs (the measured crossover with the
          token join).
      phase 2 (make_verdict_mapper): ONE fused mapInArrow over (url,
          text) probes each token's pair key in the broadcast verdicts (a
          pandas Index; each Python worker builds its hash table once) —
          no token exchange, no regroup.
  token join (above that bound; phase 1 still runs first, since the
      bound is checked on its result):
      stage 1 (Python, narrow): tokenize each doc with char offsets
          (core.batch_tokenize), emit one row per token carrying (pos,
          prev, start, end) keyed by a compact int64 doc_key; per-doc
          metadata (url, n_chars, langid verdict) rides ONE sentinel row
          per doc and PII spans ride sentinel rows — the text itself
          never leaves this stage, and the token-grain exchanges carry
          ints + the two join-key strings, never the url/lang strings.
      joins (Catalyst): token stream LEFT JOIN pair counts (pre-enriched
          with the prev token's unigram count) and unigram counts. Pruned
          count tables broadcast via AQE; unpruned ones degrade
          gracefully to shuffle joins — either way no driver collect. The
          three goodness verdicts pack into ONE tinyint before the
          reassembly shuffle.
      stage 2 (Python, one shuffle on doc_key): per-doc reassembly from
          the packed token flags alone; when scrub is off the shuffled
          struct drops the char offsets entirely (pos + flags, 5 bytes
          per token).

The two distributed sub-paths share one front (_doc_front: tokenize,
langid, PII), one CASE (goodness_flags) and one tail (_reads2_batch:
mean/window quality, trim/split/PII scrub, child re-scoring); they differ
only in where a token's flags come from, so they agree by construction.

Exactness (both distributed sub-paths): identical to the broadcast painter
(and the pure-Python oracle) whenever lm_min_count == 1 and scrub cuts
land on token boundaries. The two documented approximations:
- lm_min_count > 1 prunes rare entries -> they paint as unseen (the
  standard KenLM prune semantics);
- a PII span cutting INSIDE a token leaves fragments that are not painted
  from their strings (the verdict table holds the corpus's pairs only, and
  the token join never sees child text): fragments paint by the
  unseen-token rule and the token after a fragment paints by the
  unigram-backoff rule — exact unless the fragment happens to be a seen
  corpus token.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import core
from ..config import FilterConfig
from ..functions import scoring
# worker-side code names these, never the scoring module: a module global
# pickles as the whole module, and scoring's holds FilterConfig, which
# workers without this package cannot unpickle
from ..functions.scoring import READS2_COLS, reads2_parents

# stage-1 row kinds, encoded in pos: >=0 token, -1 doc sentinel (one per
# doc, carrying url/n_chars/langid metadata), -2 PII span
TOK_SCHEMA = ("doc_key long, url string, n_chars long, lang_pred string, "
              "lang_ok boolean, pos int, tok string, prev string, "
              "start int, end int")
PAIR_SCHEMA = "tok string, prev string, c long"


class LmCounts(NamedTuple):
    """Count tables + the persisted intermediates that back them (call
    release() once the scoring job has materialized)."""
    c1: DataFrame        # (tok, c1) — pruned unigram counts
    c2e: DataFrame       # (prev, tok, c2, c_prev) — pruned pair counts
    total: int           # UNPRUNED token total (denominators never move)
    cache: tuple = ()

    def release(self) -> None:
        for df in self.cache:
            df.unpersist()


def _batch_pairs(tb, inverse: bool = False):
    """A batch's distinct (prev, tok) pairs at VOCAB grain: (tok, prev,
    extra), tok/prev as Arrow string arrays (prev null at doc start) and
    ``extra`` each pair's occurrence count or, with inverse=True, each
    token's pair index. Distinct tokens come from Arrow dictionary_encode
    over the buffer-built token array (no Python token strings), then ONE
    integer unique over packed (prev_code, tok_code) pairs; prev_code -1 =
    doc start."""
    import numpy as np
    import pyarrow as pa
    de = core.batch_token_array(tb).dictionary_encode()
    tok = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    prev = np.empty_like(tok)
    prev[0] = -1
    prev[1:] = tok[:-1]
    prev[1:][tb.doc_of[1:] != tb.doc_of[:-1]] = -1
    width = len(de.dictionary) + 1
    uniq, extra = np.unique((prev + 1) * width + tok,
                            return_inverse=inverse,
                            return_counts=not inverse)
    p = uniq // width - 1
    pm = p >= 0
    return (de.dictionary.take(pa.array(uniq % width)),
            de.dictionary.take(pa.array(np.where(pm, p, 0), mask=~pm)),
            extra)


def _pair_mapper(batches):
    """text -> PRE-AGGREGATED (tok, prev, c) rows at per-batch vocab grain:
    web tokens repeat heavily, so this emits orders of magnitude fewer
    Arrow rows than the token stream and a downstream groupBy sums tiny
    partials instead of hashing every token occurrence (measured ~1/3 of
    the whole LM leg before the pre-aggregation)."""
    import pyarrow as pa
    schema = pa.schema([("tok", pa.string()), ("prev", pa.string()),
                        ("c", pa.int64())])
    for rb in batches:
        texts = [t if isinstance(t, str) else ""
                 for t in rb.column("text").to_pylist()]
        tb = core.batch_tokenize(texts)
        if tb.starts.size:
            tok, prev, c = _batch_pairs(tb)
            yield pa.record_batch([tok, prev, pa.array(c)], schema=schema)


def lm_count_tables(ref_pages: DataFrame, min_count: int = 1) -> LmCounts:
    """Distributed bigram/unigram counting (<- src/kmers.cpp:142-166's
    counting, reborn). ONE token-grain aggregation feeds everything: the
    Arrow tokenizer emits (tok, prev) pairs map-only (prev = preceding
    token within the doc, None at doc start) and groupBy(prev, tok) —
    WITH the null-prev doc-start rows — collapses them to bigram-vocab
    grain. That table and the unigram counts summed from it are
    persisted, so the unpruned total, the pruned tables and their joins
    derive from them without re-running the Python tokenize pass or the
    unigram aggregate (previously each consumer re-tokenized the whole
    reference corpus). ``total`` is the UNPRUNED token count; the pair
    table is pre-joined with the prev token's unigram count so the
    scoring stream needs only two joins."""
    scoring._register_self_contained_pickling()
    toks = ref_pages.select("text").mapInArrow(_pair_mapper,
                                               schema=PAIR_SCHEMA)
    # every token occurrence is counted in exactly one per-batch
    # (prev, tok, c) partial (prev null at doc start), so this one
    # aggregate carries the full model
    c2_all = toks.groupBy("prev", "tok").agg(F.sum("c").alias("c")).persist()
    c1_all = c2_all.groupBy("tok").agg(F.sum("c").alias("c1")).persist()
    # materializes both caches; later jobs re-derive from them
    total = int(c1_all.agg(F.sum("c1")).collect()[0][0] or 0)
    c1 = c1_all.filter(F.col("c1") >= min_count)
    c2 = (c2_all.filter(F.col("prev").isNotNull())
          .select("prev", "tok", F.col("c").alias("c2"))
          .filter(F.col("c2") >= min_count))
    # consistency: a pair whose prev got pruned is pruned too (its c_prev
    # would be absent); inner join enforces it
    c1p = c1.select(F.col("tok").alias("prev"), F.col("c1").alias("c_prev"))
    c2e = c2.join(c1p, "prev")
    return LmCounts(c1, c2e, total, (c2_all, c1_all))


# broadcast budget: a pruned model above this many entries (unigrams +
# bigrams) stays distributed. ~2M dict entries is tens of MB pickled —
# comfortably a driver/executor broadcast; beyond it the token-grain join
# path wins (linear shuffle, zero collect). Read at call time.
LM_BROADCAST_MAX_ENTRIES = 2_000_000
# verdict budget: the distributed scorer broadcasts the corpus's pair
# verdicts while they hold at most this many keys, else runs the token
# join. Set from scripts/lm_crossover.py (3M tokens, 4 cores): the verdict
# path won at 0.95M keys (8.2 s against the token join's 9.2 s) and lost
# at 2.1M (12.9 s against 10.2 s). Its cost grows ~4 s per million keys,
# the token join's with the token count, so a larger corpus crosses over
# later. Read at call time.
LM_VERDICT_MAX_KEYS = 1_000_000


def plan_lm(ref_pages: DataFrame | None, cfg: FilterConfig,
            max_entries: int | None = None
            ) -> tuple[str, LmCounts | None]:
    """Resolve lm_strategy='auto' AND hand back the count tables the
    planning pass already built (persisted), so the chosen path — either
    the distributed scorer or the broadcast collect — reuses them instead
    of re-counting the reference corpus. One small count job, like a
    join-side size estimate."""
    if ref_pages is None:
        return "distributed", None  # downstream raises the clear error
    if max_entries is None:
        max_entries = LM_BROADCAST_MAX_ENTRIES
    tables = lm_count_tables(ref_pages, cfg.lm_min_count)
    n_entries = tables.c1.count() + tables.c2e.count()
    strategy = ("broadcast" if n_entries <= max_entries else "distributed")
    return strategy, tables


def choose_strategy(ref_pages: DataFrame | None, cfg: FilterConfig,
                    max_entries: int | None = None) -> str:
    """Planning-only wrapper over plan_lm (releases the tables)."""
    strategy, tables = plan_lm(ref_pages, cfg, max_entries)
    if tables is not None:
        tables.release()
    return strategy


def _doc_front(texts: list, langid: bool, lang_expected, pii: bool):
    """The shared front of both distributed mappers, for one batch:
    (tb, lang_pred, gated, n_chars, keep_doc, pii_by_doc). keep_doc marks
    the docs whose tokens are scored (not langid-gated, at least one
    token); PII spans are searched (per-doc Python, behind the cheap
    necessary-condition prefilter) in those docs only."""
    import numpy as np
    nd = len(texts)
    tb = core.batch_tokenize(texts)
    gated = np.zeros(nd, dtype=bool)
    if langid:
        pred, _ = core.flat_predict_lang_texts(texts)
        if lang_expected is not None:
            gated = pred != lang_expected
    else:
        pred = np.full(nd, None, dtype=object)
    n_chars = np.fromiter((len(t) for t in texts), dtype=np.int64,
                          count=nd)
    keep_doc = ~gated & (tb.counts > 0)
    pii_by_doc: dict = {}
    if pii:
        for d in np.nonzero(keep_doc)[0]:
            if core.pii_possible(texts[d]):
                spans = core.pii_spans(texts[d])
                if spans:
                    pii_by_doc[int(d)] = spans
    return tb, pred, gated, n_chars, keep_doc, pii_by_doc


def make_token_mapper(cfg: FilterConfig):
    """Stage 1: (doc_key, url, text) -> token rows + per-doc sentinel,
    as an ARROW-NATIVE mapper (DataFrame.mapInArrow).

    Token rows carry ONLY (doc_key, pos, tok, prev, start, end) — the
    url/lang/n_chars metadata would otherwise ride every token through
    the two count joins and the reassembly shuffle; it rides the single
    pos=-1 sentinel row per doc instead and re-attaches in the final
    doc-grain aggregate.

    Why Arrow and not pandas: this stage emits ~500 rows per DOCUMENT.
    Building a pandas DataFrame for a 250k-token batch costs ~2.4 s
    (block consolidation + per-element object churn) while the
    tokenizer itself costs 0.1 s; constructing the pyarrow RecordBatch
    directly costs ~0.05 s (pa.array over the token list is a single C
    pass, `prev` is a take() of the same array). Measured 50x on the
    emission step — this stage WAS the LM leg's bottleneck."""
    scoring._register_self_contained_pickling()
    langid = cfg.langid_enabled
    lang_expected = cfg.langid_expected
    pii = cfg.pii_scrub

    def mapper(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        schema = pa.schema([
            ("doc_key", pa.int64()), ("url", pa.string()),
            ("n_chars", pa.int64()), ("lang_pred", pa.string()),
            ("lang_ok", pa.bool_()), ("pos", pa.int32()),
            ("tok", pa.string()), ("prev", pa.string()),
            ("start", pa.int32()), ("end", pa.int32())])

        def nulls(n, t):
            return pa.nulls(n, t)

        for rb in batches:
            keys = rb.column("doc_key").to_numpy(zero_copy_only=False)
            texts = [t if isinstance(t, str) else ""
                     for t in rb.column("text").to_pylist()]
            nd = len(texts)
            tb, pred, gated, n_chars, keep_doc, pii_by_doc = _doc_front(
                texts, langid, lang_expected, pii)
            doc_of = tb.doc_of
            offsets = np.concatenate(([0], np.cumsum(tb.counts)))
            total = int(offsets[-1])

            # doc sentinels (pos=-1): ONE per doc, carrying all metadata
            yield pa.record_batch([
                pa.array(keys), rb.column("url"), pa.array(n_chars),
                pa.array(pred, type=pa.string(), from_pandas=True),
                pa.array(~gated),
                pa.array(np.full(nd, -1, dtype=np.int32)),
                nulls(nd, pa.string()), nulls(nd, pa.string()),
                pa.array(np.zeros(nd, dtype=np.int32)),
                pa.array(np.zeros(nd, dtype=np.int32))], schema=schema)

            # token rows — one pa.array pass over the token list, prev =
            # take() of the same array shifted within-doc, then a single
            # take(sel) filters gated docs. Metadata columns stay null.
            sel = np.nonzero(keep_doc[doc_of])[0]
            if sel.size:
                tok_pa = core.batch_token_array(tb)
                pos_full = np.arange(total, dtype=np.int64) \
                    - offsets[doc_of]
                prev_pa = pc.if_else(
                    pa.array(pos_full == 0),
                    nulls(total, pa.string()),
                    tok_pa.take(pa.array(
                        np.maximum(np.arange(total, dtype=np.int64) - 1,
                                   0))))
                sel_pa = pa.array(sel)
                nsel = sel.size
                yield pa.record_batch([
                    pa.array(keys[doc_of[sel]]),
                    nulls(nsel, pa.string()), nulls(nsel, pa.int64()),
                    nulls(nsel, pa.string()), nulls(nsel, pa.bool_()),
                    pa.array(pos_full[sel].astype(np.int32)),
                    tok_pa.take(sel_pa), prev_pa.take(sel_pa),
                    pa.array(tb.starts[sel].astype(np.int32)),
                    pa.array(tb.ends[sel].astype(np.int32))],
                    schema=schema)

            # PII sentinels (pos=-2), one per span
            spans = [(keys[d], s, e) for d, sp in pii_by_doc.items()
                     for (s, e) in sp]
            if spans:
                pk, ps, pe = zip(*spans)
                np_ = len(spans)
                yield pa.record_batch([
                    pa.array(pk, type=pa.int64()),
                    nulls(np_, pa.string()), nulls(np_, pa.int64()),
                    nulls(np_, pa.string()), nulls(np_, pa.bool_()),
                    pa.array(np.full(np_, -2, dtype=np.int32)),
                    nulls(np_, pa.string()), nulls(np_, pa.string()),
                    pa.array(ps, type=pa.int32()),
                    pa.array(pe, type=pa.int32())], schema=schema)

    return mapper


def _eps_good(total: int, threshold: float) -> bool:
    """The verdict of an unseen token: p = 1 / (10 * total) vs threshold."""
    return bool(total) and (1.0 / (10.0 * total) >= threshold)


def goodness_flags(total: int, threshold: float):
    """Catalyst rendering of core.bigram_prob + threshold painting over
    rows LEFT-joined with the pair counts (c2, c_prev) and the unigram
    counts (c1) on (prev, tok): one CASE, shared by the token join and
    the verdict table. All probabilities are ratios of exact integer
    counts -> doubles identical to the Python painter bit-for-bit. The
    three goodness verdicts pack into one tinyint (bit 0 good, bit 1
    good-as-first-token, bit 2 good-under-unigram-backoff)."""
    tot = F.lit(float(total)) if total else F.lit(1.0)
    eps_good = _eps_good(total, threshold)
    p_uni = F.col("c1") / tot
    good = (F.when(F.col("c2").isNotNull(), (F.col("c2") / F.col("c_prev"))
                   >= F.lit(threshold))
            .when(F.col("c1").isNotNull(),
                  F.when(F.col("prev").isNull(), p_uni)
                  .otherwise(F.lit(0.4) * p_uni) >= F.lit(threshold))
            .otherwise(F.lit(eps_good)))
    good_first = (F.col("c1").isNotNull() & (p_uni >= F.lit(threshold))) \
        | (F.col("c1").isNull() & F.lit(eps_good))
    good_backoff = (F.col("c1").isNotNull()
                    & ((F.lit(0.4) * p_uni) >= F.lit(threshold))) \
        | (F.col("c1").isNull() & F.lit(eps_good))
    return (F.when(good, 1).otherwise(0)
            + F.when(good_first, 2).otherwise(0)
            + F.when(good_backoff, 4).otherwise(0)).cast("tinyint")


def paint_goodness(tok_rows: DataFrame, c1: DataFrame, c2e: DataFrame,
                   total: int, threshold: float) -> DataFrame:
    """Token-grain painting: two LEFT joins + goodness_flags, so the
    reassembly shuffle carries 1 flags byte instead of 3 booleans
    (sentinel rows paint as unseen tokens; stage 2 reads token flags
    only).

    Skew note: when the pruned count tables fit the broadcast threshold,
    AQE turns both joins into broadcasts and token-key skew is moot. In
    the shuffle-join fallback, stopword keys ('the', ...) are the hottest
    keys of any web corpus — AQE's skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on by default) splits those
    partitions; keep it enabled on clusters running this mode."""
    j = (tok_rows
         .join(c2e, ["prev", "tok"], "left")
         .join(c1, "tok", "left"))
    return j.select(
        "doc_key", "url", "n_chars", "lang_pred", "lang_ok",
        "pos", "start", "end",
        goodness_flags(total, threshold).alias("flags"))


def _child_quality(starts, ends, good, gfirst, gback, s, e, eps_good):
    """Per-token 0/1 for child span [s, e): full inner tokens reuse
    parent flags (their bigram context is unchanged); edge fragments
    follow the unseen-token rule and the token after a fragment the
    unigram-backoff rule (see module docstring)."""
    import numpy as np
    inside = (ends > s) & (starts < e)
    q = []
    prev_was_fragment = False
    for i in np.nonzero(inside)[0]:
        if starts[i] < s or ends[i] > e:  # fragment at an edge
            q.append(1.0 if eps_good else 0.0)
            prev_was_fragment = True
        elif not q:                       # child position 0, full token
            q.append(1.0 if gfirst[i] else 0.0)
            prev_was_fragment = False
        elif prev_was_fragment:           # full token after a fragment
            q.append(1.0 if gback[i] else 0.0)
            prev_was_fragment = False
        else:                             # parent bigram intact
            q.append(1.0 if good[i] else 0.0)
    return q


def _reads2_batch(opts: tuple, urls, n_chars, lang_pred, gated, doc_of,
                  starts, ends, flags, pii_by_doc):
    """The shared tail of both distributed mappers: one batch's docs
    (urls, n_chars, lang_pred, gated) and the flat flags of their scored
    tokens in doc, then token, order (doc_of; char starts/ends, None when
    scrub is off) -> READS2 rows. Runs the same flat kernels as the
    intrinsic scorer (prefix-sum mean/window, whole-batch bad-run masks,
    core.flat_batch_scrub); per-doc Python only for docs that scrub, and
    children re-score from the parent's token flags alone (fragment
    rules — see _child_quality). ``opts``: (window_size, trim, split,
    eps_good), plain values — a mapper closure must not capture the
    FilterConfig, which workers without this package cannot unpickle."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    window_size, trim, split, eps_good = opts
    nd = len(urls)
    counts = np.bincount(doc_of, minlength=nd)
    q = (flags & 1).astype(np.float64)
    mean, win = core.flat_mean_window(q, counts, window_size)
    ratio = core.flat_window_ratio(mean, win)

    scrubbed = np.zeros(nd, dtype=bool)
    child_rows: list = []
    if starts is not None:
        scrubbed, child_rows = core.flat_batch_scrub(
            doc_of, starts, ends, q, n_chars, gated, trim, split,
            pii_by_doc)
    out = reads2_parents(urls, n_chars, counts, mean, win, ratio,
                         lang_pred, gated, scrubbed)
    if child_rows:
        off = np.zeros(nd + 1, dtype=np.int64)
        np.cumsum(counts, out=off[1:])
        good, gfirst, gback = q > 0.0, (flags & 2) > 0, (flags & 4) > 0
        krows = []
        for (d, s, e) in child_rows:
            sl = slice(off[d], off[d + 1])
            cq = np.array(_child_quality(
                starts[sl], ends[sl], good[sl], gfirst[sl], gback[sl],
                s, e, eps_good))
            cmq = core.mean_quality(cq)
            cwq = core.window_quality(cq, window_size)
            krows.append((core.child_name(urls[d], s, e), urls[d],
                          e - s, int(cq.size), cmq, cwq,
                          core.window_ratio(cmq, cwq),
                          s, e, True, lang_pred[d], True))
        out = pd.concat(
            [out, pd.DataFrame(krows, columns=READS2_COLS)],
            ignore_index=True)
    schema = pa.schema([
        ("url", pa.string()), ("parent_url", pa.string()),
        ("n_chars", pa.int64()), ("n_tokens", pa.int64()),
        ("mean_q", pa.float64()), ("window_q", pa.float64()),
        ("ratio", pa.float64()), ("child_start", pa.int32()),
        ("child_end", pa.int32()), ("is_child", pa.bool_()),
        ("lang_pred", pa.string()), ("lang_ok", pa.bool_())])
    return pa.RecordBatch.from_pandas(out, schema=schema,
                                      preserve_index=False)


def make_reassemble_mapper(cfg: FilterConfig, eps_good: bool):
    """Stage 2: grouped (url, n_chars, lang flags, PARALLEL per-token
    arrays extracted from the sorted struct array — codegen field
    extraction, so Arrow ships primitive lists and the mapper works on
    numpy, never on per-token dicts) -> READS2 rows through the shared
    tail. When scrub is off the struct has no start/end columns — the
    mapper only needs (pos, flags) for mean/window quality."""
    scoring._register_self_contained_pickling()
    scrub = cfg.trim or cfg.split is not None or cfg.pii_scrub
    opts = (cfg.window_size, cfg.trim, cfg.split, eps_good)

    def mapper(batches):
        import numpy as np
        import pyarrow.compute as pc

        def flat(col, dtype):
            """List column -> (per-row counts, flat values) with ZERO
            per-row Python: list_value_length reads the offsets buffer,
            flatten() slices the values buffer. The previous
            mapInPandas intake materialized one numpy object PER ROW
            per column and re-copied via np.concatenate — at 24M tokens
            that conversion, not the kernels, dominated the stage."""
            counts = pc.list_value_length(col).to_numpy(
                zero_copy_only=False).astype(np.int64)
            vals = col.flatten().to_numpy(
                zero_copy_only=False).astype(dtype)
            return counts, vals

        for rb in batches:
            nd = rb.num_rows
            if not nd:
                continue
            urls = np.array(rb.column("url").to_pylist(), dtype=object)
            n_chars = rb.column("n_chars").to_numpy(
                zero_copy_only=False).astype(np.int64)
            lang_pred = np.array(rb.column("lang_pred").to_pylist(),
                                 dtype=object)
            gated = ~rb.column("lang_ok").to_numpy(
                zero_copy_only=False).astype(bool)

            # Fields arrive PACKED (pf = pos*8 + flags, se = start*2^32 +
            # end — see the pack comment in score_and_scrub_distributed);
            # unpacking is three numpy ops, and the packed longs double
            # as the sort keys (ordering by (doc, pf, se) == the
            # previous (doc, pos, start, end, flags) struct order — pos
            # is unique per doc except the constant-flag sentinels).
            counts_all, pf = flat(rb.column("pf"), np.int64)
            doc_of_all = np.repeat(np.arange(nd), counts_all)
            start = end = None
            if scrub:
                _, se = flat(rb.column("se"), np.int64)
                # packing invariant (see the pack in
                # score_and_scrub_distributed): start/end are
                # non-negative, so se never goes negative
                assert (se >= 0).all(), "negative packed start/end"
                order = np.lexsort((se, pf, doc_of_all))
                pf, se = pf[order], se[order]
                start, end = se >> 32, se & 0xFFFFFFFF
            else:
                order = np.lexsort((pf, doc_of_all))
                pf = pf[order]
            # arithmetic >> 3 floor-divides, so negative sentinel
            # positions (-1, -2) unpack exactly
            pos = pf >> 3
            fl = (pf & 7).astype(np.int8)

            # exactly one pos=-1 metadata sentinel per document; two
            # means an xxhash64(url) doc_key collision merged two docs —
            # refuse to emit silently-corrupt rows
            sent = np.bincount(doc_of_all[pos == -1], minlength=nd)
            if (sent != 1).any():
                d = int(np.nonzero(sent != 1)[0][0])
                raise RuntimeError(
                    "%d metadata sentinels under one doc_key (url=%r). "
                    "Most likely the input contains DUPLICATE url rows "
                    "— run_filter's ingest dedups urls before this "
                    "stage; do the same when calling "
                    "score_and_scrub_distributed directly. (The other, "
                    "astronomically rarer cause is an xxhash64(url) "
                    "collision — escape hatch: add a second hash "
                    "column to the doc_key grouping.)"
                    % (int(sent[d]), urls[d]))

            tok_m = pos >= 0
            pii_by_doc: dict = {}
            if scrub:
                for i in np.nonzero(pos == -2)[0]:
                    pii_by_doc.setdefault(int(doc_of_all[i]), []).append(
                        (int(start[i]), int(end[i])))
                start, end = start[tok_m], end[tok_m]
            yield _reads2_batch(opts, urls, n_chars, lang_pred, gated,
                                doc_of_all[tok_m], start, end, fl[tok_m],
                                pii_by_doc)

    return mapper


def lm_verdicts(pages: DataFrame, tables: LmCounts, threshold: float,
                max_entries: int):
    """Phase 1 of the verdict path: the flags byte of every distinct
    (prev, tok) pair in ``pages``, keyed prev + " " + tok (prev "" at doc
    start; tokens hold no ASCII whitespace, so the key is unambiguous),
    as (keys pd.Index, flags np.int8 array) — or None when the pages
    hold more than ``max_entries`` distinct pairs. Only these
    corpus-restricted verdicts reach the driver, at most max_entries + 1
    rows. A pandas Index, not an Arrow array: its hash table is built on
    the first probe and kept with the Index (pc.index_in rebuilds its
    value set on every call: 424 ms per batch at 2M keys, against 3 ms
    for get_indexer once the table is built)."""
    import numpy as np
    import pandas as pd
    scoring._register_self_contained_pickling()
    pairs = (pages.select("text")
             .mapInArrow(_pair_mapper, schema=PAIR_SCHEMA)
             .select("prev", "tok").distinct())
    painted = (pairs.join(tables.c2e, ["prev", "tok"], "left")
               .join(tables.c1, "tok", "left"))
    key = F.concat(F.coalesce(F.col("prev"), F.lit("")), F.lit(" "),
                   F.col("tok"))
    got = (painted.select(key.alias("key"),
                          goodness_flags(tables.total, threshold)
                          .alias("flags"))
           .limit(max_entries + 1).toArrow())
    if got.num_rows > max_entries:
        return None
    keys = pd.Index(got.column("key").to_numpy(), dtype=object)
    return keys, got.column("flags").to_numpy().astype(np.int8)


def _verdict_flags(tb, vkeys, vflags):
    """Each token's flags byte from the verdict table (vkeys pd.Index,
    vflags): the batch's distinct pair keys (prev + " " + tok, prev "" at
    doc start) probed with one get_indexer, gathered back per token
    through the pair index. Every key must be found: phase 1 painted the
    same texts."""
    import pyarrow.compute as pc
    tok, prev, inv = _batch_pairs(tb, inverse=True)
    hit = vkeys.get_indexer(pc.binary_join_element_wise(
        pc.fill_null(prev, ""), tok, " ").to_numpy(zero_copy_only=False))
    if (hit < 0).any():
        raise RuntimeError(
            "a (prev, tok) pair has no LM verdict: the scored pages "
            "changed between the verdict pass and the scoring pass (a "
            "nondeterministic input lineage)")
    return vflags[hit][inv]


def make_verdict_mapper(cfg: FilterConfig, eps_good: bool, verdicts_bc):
    """Phase 2 of the verdict path: ONE fused mapInArrow over (url, text)
    — the shared front, _verdict_flags against the broadcast verdicts
    and the shared tail. A Python worker deserializes the broadcast once
    and keeps it for every later task, so the key Index's hash table is
    built on the worker's first probe and reused by every later batch."""
    scoring._register_self_contained_pickling()
    langid = cfg.langid_enabled
    lang_expected = cfg.langid_expected
    pii = cfg.pii_scrub
    scrub = cfg.trim or cfg.split is not None or pii
    opts = (cfg.window_size, cfg.trim, cfg.split, eps_good)

    def mapper(batches):
        import numpy as np
        vkeys, vflags = verdicts_bc.value
        for rb in batches:
            urls = np.array(rb.column("url").to_pylist(), dtype=object)
            texts = [t if isinstance(t, str) else ""
                     for t in rb.column("text").to_pylist()]
            tb, pred, gated, n_chars, keep_doc, pii_by_doc = _doc_front(
                texts, langid, lang_expected, pii)
            sel = np.nonzero(keep_doc[tb.doc_of])[0]
            flags = np.zeros(0, dtype=np.int8)
            if sel.size:
                flags = _verdict_flags(tb, vkeys, vflags)[sel]
            yield _reads2_batch(
                opts, urls, n_chars, pred, gated, tb.doc_of[sel],
                tb.starts[sel] if scrub else None,
                tb.ends[sel] if scrub else None, flags, pii_by_doc)

    return mapper


def score_and_scrub_distributed(spark: SparkSession, pages: DataFrame,
                                cfg: FilterConfig,
                                ref_pages: DataFrame,
                                tables: LmCounts | None = None,
                                decision: dict | None = None
                                ) -> DataFrame:
    """Drop-in replacement for score_op.score_and_scrub in bigram_lm mode:
    same READS2 output columns (+ length_s, hard_passed), zero model
    collect. ``tables``: pre-built count tables (from plan_lm) to reuse
    instead of re-counting the reference corpus. Runs the verdict
    broadcast when the corpus's distinct pairs fit
    LM_VERDICT_MAX_KEYS (phase 1 is one eager action), else the
    token join; ``decision``, when given, receives lm_path, lm_verdict_keys
    (None on the token join) and lm_verdict_max_entries. The verdict
    path evaluates ``pages`` twice (phase 1, then the scoring pass), so
    its lineage must give the same texts each time."""
    if tables is None:
        if ref_pages is None:
            raise ValueError(
                "bigram_lm mode requires a reference corpus DataFrame")
        tables = lm_count_tables(ref_pages, cfg.lm_min_count)
    max_entries = LM_VERDICT_MAX_KEYS
    eps_good = _eps_good(tables.total, cfg.lm_threshold)
    verdicts = lm_verdicts(pages, tables, cfg.lm_threshold, max_entries)
    if decision is not None:
        decision.update(
            lm_path="token_join" if verdicts is None else "verdict_broadcast",
            lm_verdict_keys=None if verdicts is None else len(verdicts[0]),
            lm_verdict_max_entries=max_entries)
    if verdicts is not None:
        bc = spark.sparkContext.broadcast(verdicts)
        reads2 = pages.select("url", "text").mapInArrow(
            make_verdict_mapper(cfg, eps_good, bc),
            schema=scoring.READS2_SCHEMA)
    else:
        reads2 = _token_join(pages, cfg, tables, eps_good)
    reads2 = reads2.withColumn(
        "length_s", scoring.length_score_col(F.col("n_chars")))
    return reads2.withColumn("hard_passed", scoring.hard_pass_col(cfg))


def _token_join(pages: DataFrame, cfg: FilterConfig, tables: LmCounts,
                eps_good: bool) -> DataFrame:
    """The token-grain sub-path: stage 1, paint_goodness, one doc_key
    regroup and stage 2 (module docstring)."""
    scrub = cfg.trim or cfg.split is not None or cfg.pii_scrub
    # doc_key must be DETERMINISTIC under stage retry: a re-evaluated
    # lineage with different partitioning must key each doc identically,
    # or one doc's token rows land under two keys (duplicate/partial
    # READS2 rows). monotonically_increasing_id depends on partition
    # layout (ingest.py:30 avoids it for the same reason); xxhash64(url)
    # is pure row-content. READS2 identity is url (ingest dedups it). A
    # 64-bit collision (expected ~n^2/2^65 pairs: ~30k at 10^12 docs,
    # i.e. 6e-8 of the corpus) would merge two docs under one key — the
    # reassemble mapper detects the double sentinel and raises, so a
    # collision fails loudly instead of silently corrupting; the escape
    # hatch at that scale is a second hash column in the grouping key.
    # PRECONDITION (inherited from READS2 identity being the url):
    # input urls must be unique — run_filter's ingest guarantees it;
    # direct callers with duplicate urls hit the same loud error.
    keyed = pages.select(
        F.xxhash64("url").alias("doc_key"), "url", "text")
    tok_rows = keyed.mapInArrow(make_token_mapper(cfg), schema=TOK_SCHEMA)
    painted = paint_goodness(tok_rows, tables.c1, tables.c2e, tables.total,
                             cfg.lm_threshold)
    # one shuffle on the int64 doc_key (the hash-partial aggregate
    # collapses each doc map-side first). The per-token fields are
    # PACKED into longs before the aggregate (guide §2.3 "narrower
    # types"): pf = pos*8 + flags (flags < 8; arithmetic so negative
    # sentinel positions order correctly) and, under scrub,
    # se = start*2^32 + end (both non-negative int32 char offsets —
    # never null, sentinels carry 0s). A struct<int,int,int,tinyint>
    # element costs ~48 B in the UnsafeArrayData collect_list buffers
    # (8 B offset + 8 B null bits + 4 padded fields); struct<long,long>
    # costs 32 B, and the scrub-off rendering is a FLAT array<bigint>
    # (8 B/element, no per-element struct at all). The stage-2 mapper
    # unpacks with three numpy ops. Sort-order equivalence: pos is
    # unique per doc for token rows, and the only tied positions
    # (sentinel -1, PII -2) carry run-constant flags, so ordering by
    # (pos, flags, start, end) == the previous (pos, start, end, flags).
    pf = (F.col("pos").cast("long") * 8
          + F.col("flags").cast("long")).alias("pf")
    if scrub:
        se = (F.col("start").cast("long") * F.lit(4294967296)
              + F.col("end").cast("long")).alias("se")
        tok_agg = F.collect_list(F.struct(pf, se)).alias("toks")
        arr_cols = [F.col("toks.pf").alias("pf"),
                    F.col("toks.se").alias("se")]
    else:
        tok_agg = F.collect_list(pf).alias("toks")
        arr_cols = [F.col("toks").alias("pf")]
    # NO sort_array: collect_list order is partition-arbitrary, and the
    # stage-2 mapper re-establishes the exact order with ONE vectorized
    # np.lexsort per batch — the JVM was sorting one struct array PER
    # DOC inside the aggregate
    grouped = (painted.groupBy("doc_key")
               .agg(F.max("url").alias("url"),
                    F.max("n_chars").alias("n_chars"),
                    F.max("lang_pred").alias("lang_pred"),
                    F.min("lang_ok").alias("lang_ok"),
                    tok_agg)
               .select("url", "n_chars", "lang_pred", "lang_ok", *arr_cols))
    # mapInArrow, not mapInPandas: the Arrow->pandas conversion of four
    # 24M-element list columns (one numpy object per row per column +
    # np.concatenate recopies) cost more than the scoring kernels
    # themselves — the same measured finding as stage 1's fan-out
    return grouped.mapInArrow(make_reassemble_mapper(cfg, eps_good),
                              schema=scoring.READS2_SCHEMA)
