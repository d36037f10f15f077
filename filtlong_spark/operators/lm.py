"""Distributed bigram-LM scoring — the scale path for mode='bigram_lm'.

The broadcast-payload LM path (refset.build_broadcast) ultimately holds
the whole bigram table in one process — bounded by the REFERENCE corpus
vocabulary, which at web scale is billions of rows. This module renders
the same math (core.bigram_prob / bigram_quality — the per-token analog of
the reference's Phred painting, src/read.cpp:35-39) as Catalyst joins that
never collect a model table:

  stage 1 (Python, narrow): tokenize each doc with char offsets
      (core.batch_tokenize), emit one row per token carrying (pos, prev,
      start, end) keyed by a compact int64 doc_key; per-doc metadata
      (url, n_chars, langid verdict) rides ONE sentinel row per doc and
      PII spans ride sentinel rows — the text itself never leaves this
      stage, and the token-grain exchanges carry ints + the two join-key
      strings, never the url/lang strings.
  joins (Catalyst): token stream LEFT JOIN pair counts (pre-enriched with
      the prev token's unigram count) and unigram counts. Pruned count
      tables broadcast via AQE; unpruned ones degrade gracefully to
      shuffle joins — either way no driver collect. The three goodness
      verdicts pack into ONE tinyint before the reassembly shuffle.
  stage 2 (Python, one shuffle on doc_key): per-doc reassembly —
      mean/window quality, trim/split/PII scrub, child re-scoring — from
      the packed token flags alone; when scrub is off the shuffled struct
      drops the char offsets entirely (pos + flags, 5 bytes per token).

Exactness: identical to the broadcast painter (and the pure-Python oracle)
whenever lm_min_count == 1 and scrub cuts land on token boundaries. The
two documented approximations:
- lm_min_count > 1 prunes rare entries -> they paint as unseen (the
  standard KenLM prune semantics);
- a PII span cutting INSIDE a token leaves fragments whose strings no
  longer exist at this stage; fragments paint by the unseen-token rule
  and the token after a fragment paints by the unigram-backoff rule —
  exact unless the fragment happens to be a seen corpus token.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..functions import scoring

# stage-1 row kinds, encoded in pos: >=0 token, -1 doc sentinel (one per
# doc, carrying url/n_chars/langid metadata), -2 PII span
TOK_SCHEMA = ("doc_key long, url string, n_chars long, lang_pred string, "
              "lang_ok boolean, pos int, tok string, prev string, "
              "start int, end int")


class LmCounts(NamedTuple):
    """Count tables + the persisted intermediate that backs them (call
    release() once the scoring job has materialized)."""
    c1: DataFrame        # (tok, c1) — pruned unigram counts
    c2e: DataFrame       # (prev, tok, c2, c_prev) — pruned pair counts
    total: int           # UNPRUNED token total (denominators never move)
    cache: DataFrame | None = None

    def release(self) -> None:
        if self.cache is not None:
            self.cache.unpersist()


def lm_count_tables(ref_pages: DataFrame, min_count: int = 1,
                    persist: bool = True) -> LmCounts:
    """Distributed bigram/unigram counting (<- src/kmers.cpp:142-166's
    counting, reborn). ONE token-grain aggregation feeds everything: the
    Arrow tokenizer emits (tok, prev) pairs map-only (prev = preceding
    token within the doc, None at doc start) and groupBy(prev, tok) —
    WITH the null-prev doc-start rows — collapses them to bigram-vocab
    grain. That table is persisted, so the unigram counts, the unpruned
    total, and the pair table all derive from it without re-running the
    Python tokenize pass (previously each consumer re-tokenized the whole
    reference corpus). ``total`` is the UNPRUNED token count; the pair
    table is pre-joined with the prev token's unigram count so the
    scoring stream needs only two joins."""
    scoring._register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value

    def bigram_mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        schema = pa.schema([("tok", pa.string()), ("prev", pa.string()),
                            ("c", pa.int64())])
        for rb in batches:
            texts = [t if isinstance(t, str) else ""
                     for t in rb.column("text").to_pylist()]
            tb = core.batch_tokenize(texts)
            counts = np.asarray(tb.counts, dtype=np.int64)
            doc_of = np.asarray(tb.doc_of, dtype=np.int64)
            offsets = np.concatenate(([0], np.cumsum(counts)))
            total = int(offsets[-1])
            if not total:
                continue
            pos = np.arange(total, dtype=np.int64) - offsets[doc_of]
            # PRE-AGGREGATED (prev, tok, c) rows at per-batch VOCAB grain
            # (factorize once, then one integer unique over packed
            # (prev_code, tok_code) pairs): web tokens repeat heavily, so
            # this emits orders of magnitude fewer Arrow rows than the
            # token stream and the downstream groupBy sums tiny partials
            # instead of hashing every token occurrence (measured ~1/3 of
            # the whole LM leg before this change). prev_code -1 = doc
            # start (null prev).
            # distinct tokens via Arrow dictionary_encode over the
            # buffer-built token array (no Python token strings; same
            # first-appearance codes as pd.factorize)
            de = core.batch_token_array(tb).dictionary_encode()
            tok_codes = de.indices.to_numpy(
                zero_copy_only=False).astype(np.int64)
            tok_uniq = de.dictionary
            prev_codes = np.full(total, -1, dtype=np.int64)
            nz = np.nonzero(pos > 0)[0]
            prev_codes[nz] = tok_codes[nz - 1]
            width = len(tok_uniq) + 1
            comb = (prev_codes + 1) * width + tok_codes
            uniq, c = np.unique(comb, return_counts=True)
            p = uniq // width - 1
            t = uniq % width
            pm = p >= 0
            prev_out = tok_uniq.take(
                pa.array(np.where(pm, p, 0), mask=~pm))
            yield pa.record_batch(
                [tok_uniq.take(pa.array(t)), prev_out,
                 pa.array(c, type=pa.int64())], schema=schema)

    toks = ref_pages.select("text").mapInArrow(
        bigram_mapper, schema="tok string, prev string, c long")
    # every token occurrence is counted in exactly one per-batch
    # (prev, tok, c) partial (prev null at doc start), so this one
    # aggregate carries the full model
    c2_all = toks.groupBy("prev", "tok").agg(F.sum("c").alias("c"))
    if persist:
        c2_all = c2_all.persist()
    c1_all = c2_all.groupBy("tok").agg(F.sum("c").alias("c1"))
    # materializes c2_all into the cache; later jobs re-derive from it
    total = int(c1_all.agg(F.sum("c1")).collect()[0][0] or 0)
    c1 = c1_all.filter(F.col("c1") >= min_count)
    c2 = (c2_all.filter(F.col("prev").isNotNull())
          .select("prev", "tok", F.col("c").alias("c2"))
          .filter(F.col("c2") >= min_count))
    # consistency: a pair whose prev got pruned is pruned too (its c_prev
    # would be absent); inner join enforces it
    c1p = c1.select(F.col("tok").alias("prev"), F.col("c1").alias("c_prev"))
    c2e = c2.join(c1p, "prev")
    return LmCounts(c1, c2e, total, c2_all if persist else None)


# broadcast budget: a pruned model above this many entries (unigrams +
# bigrams) stays distributed. ~2M dict entries is tens of MB pickled —
# comfortably a driver/executor broadcast; beyond it the token-grain
# join path wins (linear shuffle, zero collect).
LM_BROADCAST_MAX_ENTRIES = 2_000_000


def plan_lm(ref_pages: DataFrame | None, cfg: FilterConfig,
            max_entries: int = LM_BROADCAST_MAX_ENTRIES
            ) -> tuple[str, LmCounts | None]:
    """Resolve lm_strategy='auto' AND hand back the count tables the
    planning pass already built (persisted), so the chosen path — either
    the token-grain joins or the broadcast collect — reuses them instead
    of re-counting the reference corpus. One small count job, like a
    join-side size estimate."""
    if ref_pages is None:
        return "distributed", None  # downstream raises the clear error
    tables = lm_count_tables(ref_pages, cfg.lm_min_count)
    n_entries = tables.c1.count() + tables.c2e.count()
    strategy = ("broadcast" if n_entries <= max_entries else "distributed")
    return strategy, tables


def choose_strategy(ref_pages: DataFrame | None, cfg: FilterConfig,
                    max_entries: int = LM_BROADCAST_MAX_ENTRIES) -> str:
    """Planning-only wrapper over plan_lm (releases the tables)."""
    strategy, tables = plan_lm(ref_pages, cfg, max_entries)
    if tables is not None:
        tables.release()
    return strategy


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
    # captured at definition time -> shipped BY VALUE inside the pickle
    # (a runtime `from .. import core` inside the mapper would need the
    # package on the worker's sys.path — breaks consumers without
    # --py-files)
    from .. import core

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
            url_col = rb.column("url")
            texts = [t if isinstance(t, str) else ""
                     for t in rb.column("text").to_pylist()]
            nd = len(texts)
            tb = core.batch_tokenize(texts)
            if langid:
                pred, _ = core.flat_predict_lang_texts(texts)
                gated = (pred != lang_expected) if lang_expected is not None \
                    else np.zeros(nd, dtype=bool)
                pred_pa = pa.array(pred, type=pa.string(), from_pandas=True)
            else:
                gated = np.zeros(nd, dtype=bool)
                pred_pa = nulls(nd, pa.string())
            n_chars = np.fromiter((len(t) for t in texts),
                                  dtype=np.int64, count=nd)
            counts = np.asarray(tb.counts, dtype=np.int64)
            doc_of = np.asarray(tb.doc_of, dtype=np.int64)
            offsets = np.concatenate(([0], np.cumsum(counts)))
            total = int(offsets[-1])

            # doc sentinels (pos=-1): ONE per doc, carrying all metadata
            yield pa.record_batch([
                pa.array(keys), url_col, pa.array(n_chars), pred_pa,
                pa.array(~gated),
                pa.array(np.full(nd, -1, dtype=np.int32)),
                nulls(nd, pa.string()), nulls(nd, pa.string()),
                pa.array(np.zeros(nd, dtype=np.int32)),
                pa.array(np.zeros(nd, dtype=np.int32))], schema=schema)

            # token rows — one pa.array pass over the token list, prev =
            # take() of the same array shifted within-doc, then a single
            # take(sel) filters gated docs. Metadata columns stay null.
            keep_doc = ~gated & (counts > 0)
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
                    pa.array(np.asarray(tb.starts,
                                        dtype=np.int64)[sel]
                             .astype(np.int32)),
                    pa.array(np.asarray(tb.ends,
                                        dtype=np.int64)[sel]
                             .astype(np.int32))], schema=schema)

            # PII sentinels (pos=-2): per-doc Python only for the docs
            # that pass the cheap necessary-condition prefilter
            if pii:
                pk, ps, pe = [], [], []
                for d in np.nonzero(keep_doc)[0]:
                    if core.pii_possible(texts[d]):
                        for (s, e) in core.pii_spans(texts[d]):
                            pk.append(int(keys[d]))
                            ps.append(s)
                            pe.append(e)
                if pk:
                    np_ = len(pk)
                    yield pa.record_batch([
                        pa.array(pk, type=pa.int64()),
                        nulls(np_, pa.string()), nulls(np_, pa.int64()),
                        nulls(np_, pa.string()), nulls(np_, pa.bool_()),
                        pa.array(np.full(np_, -2, dtype=np.int32)),
                        nulls(np_, pa.string()), nulls(np_, pa.string()),
                        pa.array(ps, type=pa.int32()),
                        pa.array(pe, type=pa.int32())], schema=schema)

    return mapper


def paint_goodness(tok_rows: DataFrame, c1: DataFrame, c2e: DataFrame,
                   total: int, threshold: float) -> DataFrame:
    """Catalyst rendering of core.bigram_prob + threshold painting: two
    LEFT joins + a CASE. All probabilities are ratios of exact integer
    counts -> doubles identical to the Python painter bit-for-bit. The
    three goodness verdicts pack into one tinyint (bit 0 good, bit 1
    good-as-first-token, bit 2 good-under-unigram-backoff), so the
    reassembly shuffle carries 1 byte instead of 3 booleans.

    Skew note: when the pruned count tables fit the broadcast threshold,
    AQE turns both joins into broadcasts and token-key skew is moot. In
    the shuffle-join fallback, stopword keys ('the', ...) are the hottest
    keys of any web corpus — AQE's skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on by default) splits those
    partitions; keep it enabled on clusters running this mode."""
    j = (tok_rows
         .join(c2e, ["prev", "tok"], "left")
         .join(c1, "tok", "left"))
    tot = F.lit(float(total)) if total else F.lit(1.0)
    eps_good = bool(total) and (1.0 / (10.0 * total) >= threshold)
    p_uni = F.col("c1") / tot
    good = (F.when(F.col("pos") < 0, F.lit(False))
            .when(F.col("c2").isNotNull(), (F.col("c2") / F.col("c_prev"))
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
    flags = (F.when(good, 1).otherwise(0)
             + F.when(good_first, 2).otherwise(0)
             + F.when(good_backoff, 4).otherwise(0)).cast("tinyint")
    return j.select(
        "doc_key", "url", "n_chars", "lang_pred", "lang_ok",
        "pos", "start", "end", flags.alias("flags"))


def make_reassemble_mapper(cfg: FilterConfig, eps_good: bool):
    """Stage 2: grouped (url, n_chars, lang flags, PARALLEL per-token
    arrays extracted from the sorted struct array — codegen field
    extraction, so Arrow ships primitive lists and the mapper works on
    numpy, never on per-token dicts) -> READS2 rows, sharing
    core.compute_bad_ranges/finalize_scrub with every other path. When
    scrub is off the struct has no start/end columns — the mapper only
    needs (pos, flags) for mean/window quality."""
    scoring._register_self_contained_pickling()
    from .. import core  # definition-time capture -> pickled by value
    window_size = cfg.window_size
    trim, split = cfg.trim, cfg.split
    scrub = trim or split is not None or cfg.pii_scrub

    parents, COLS = scoring.reads2_parents, scoring.READS2_COLS

    def child_quality(starts, ends, good, gfirst, gback, s, e):
        """Per-token 0/1 for child span [s, e): full inner tokens reuse
        parent flags (their bigram context is unchanged); edge fragments
        follow the unseen-token rule and the token after a fragment the
        unigram-backoff rule (see module docstring)."""
        import numpy as np
        inside = (ends > s) & (starts < e)
        idx = np.nonzero(inside)[0]
        q = []
        prev_was_fragment = False
        for i in idx:
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

    def mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema([
            ("url", pa.string()), ("parent_url", pa.string()),
            ("n_chars", pa.int64()), ("n_tokens", pa.int64()),
            ("mean_q", pa.float64()), ("window_q", pa.float64()),
            ("ratio", pa.float64()), ("child_start", pa.int32()),
            ("child_end", pa.int32()), ("is_child", pa.bool_()),
            ("lang_pred", pa.string()), ("lang_ok", pa.bool_())])

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

            # flatten the per-doc arrays ONCE, then run the same flat
            # kernels as the intrinsic scorer (prefix-sum mean/window,
            # whole-batch bad-run masks) — per-doc Python only for docs
            # that actually scrub. Fields arrive PACKED (pf = pos*8 +
            # flags, se = start*2^32 + end — see the pack comment in
            # score_and_scrub_distributed); unpacking is three numpy
            # ops, and the packed longs double as the sort keys
            # (ordering by (doc, pf, se) == the previous
            # (doc, pos, start, end, flags) struct order — pos is
            # unique per doc except the constant-flag sentinels).
            counts_all, pf = flat(rb.column("pf"), np.int64)
            doc_of_all = np.repeat(np.arange(nd), counts_all)
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
            doc_of_t = doc_of_all[tok_m]
            tok_counts = np.bincount(doc_of_t, minlength=nd)
            tf = fl[tok_m]
            q = (tf & 1).astype(np.float64)
            mean, win = core.flat_mean_window(q, tok_counts, window_size)
            ratio = core.flat_window_ratio(mean, win)

            scrubbed = np.zeros(nd, dtype=bool)
            child_rows: list = []
            if scrub:
                starts_t, ends_t = start[tok_m], end[tok_m]
                pii_by_doc: dict = {}
                for i in np.nonzero(pos == -2)[0]:
                    pii_by_doc.setdefault(int(doc_of_all[i]), []).append(
                        (int(start[i]), int(end[i])))
                scrubbed, child_rows = core.flat_batch_scrub(
                    doc_of_t, starts_t, ends_t, q, n_chars, gated,
                    trim, split, pii_by_doc)

            out = parents(urls, n_chars, tok_counts, mean, win, ratio,
                          lang_pred, gated, scrubbed)

            if child_rows:
                # children re-score from the parent's token flags alone
                # (fragment rules — see child_quality); per-child Python
                # runs only for the scrubbed minority
                tok_off = np.zeros(nd + 1, dtype=np.int64)
                np.cumsum(tok_counts, out=tok_off[1:])
                good_f = q > 0.0
                gfirst_f = (tf & 2) > 0
                gback_f = (tf & 4) > 0
                krows = []
                for (d, s, e) in child_rows:
                    o, c = tok_off[d], tok_counts[d]
                    sl = slice(o, o + c)
                    cq = np.array(child_quality(
                        starts_t[sl], ends_t[sl], good_f[sl],
                        gfirst_f[sl], gback_f[sl], s, e))
                    cmq = core.mean_quality(cq)
                    cwq = core.window_quality(cq, window_size)
                    krows.append((core.child_name(urls[d], s, e), urls[d],
                                  e - s, int(cq.size), cmq, cwq,
                                  core.window_ratio(cmq, cwq),
                                  s, e, True, lang_pred[d], True))
                out = pd.concat(
                    [out, pd.DataFrame(krows, columns=COLS)],
                    ignore_index=True)
            yield pa.RecordBatch.from_pandas(out, schema=out_schema,
                                             preserve_index=False)

    return mapper


def score_and_scrub_distributed(spark: SparkSession, pages: DataFrame,
                                cfg: FilterConfig,
                                ref_pages: DataFrame,
                                tables: LmCounts | None = None) -> DataFrame:
    """Drop-in replacement for score_op.score_and_scrub in bigram_lm mode:
    same READS2 output columns (+ length_s, hard_passed), zero model
    collect. ``tables``: pre-built count tables (from plan_lm) to reuse
    instead of re-counting the reference corpus."""
    if tables is None:
        if ref_pages is None:
            raise ValueError(
                "bigram_lm mode requires a reference corpus DataFrame")
        tables = lm_count_tables(ref_pages, cfg.lm_min_count)
    c1, c2e, total = tables.c1, tables.c2e, tables.total
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
    painted = paint_goodness(tok_rows, c1, c2e, total, cfg.lm_threshold)
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
    eps_good = bool(total) and (1.0 / (10.0 * total) >= cfg.lm_threshold)
    # mapInArrow, not mapInPandas: the Arrow->pandas conversion of four
    # 24M-element list columns (one numpy object per row per column +
    # np.concatenate recopies) cost more than the scoring kernels
    # themselves — the same measured finding as stage 1's fan-out
    reads2 = grouped.mapInArrow(make_reassemble_mapper(cfg, eps_good),
                                schema=scoring.READS2_SCHEMA)
    reads2 = reads2.withColumn(
        "length_s", scoring.length_score_col(F.col("n_chars")))
    return reads2.withColumn("hard_passed", scoring.hard_pass_col(cfg))
