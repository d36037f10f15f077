"""The intrinsic scorer: one fused, Arrow-batched mapInPandas pass.

Per-token work never materializes as a Spark column (mirrors the reference
discarding the quality string after scoring, src/read.cpp:25-62): each
batch is tokenized, painted against the broadcast accepted set, reduced to
per-doc metrics and, when scrubbing, cut into re-scored children inside
one Arrow batch. ``reads2_parents`` builds the parent rows for this mapper
and for the distributed-LM reassembly (operators/lm.py) alike.

All math delegates to ``filtlong_spark.core`` so the mapper and the
pure-Python oracle are bit-identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from .. import core
from ..config import FilterConfig

# kernel modules whose UDF closures must pickle by value (see below)
PICKLE_BY_VALUE_MODULES = (
    "filtlong_spark.core", "filtlong_spark.functions.scoring",
    "filtlong_spark.operators.similarity",
    "filtlong_spark.operators.dedup",
    "filtlong_spark.operators.lm",
    "filtlong_spark.functions.seqscore",
    "filtlong_spark.functions.textstats",
    "filtlong_spark.sources.fastx",
    "filtlong_spark.sources.warc")


def _register_self_contained_pickling() -> None:
    """Ship the kernel code inside the UDF pickle itself.

    cloudpickle serializes functions from importable modules BY REFERENCE,
    so a Python worker that doesn't have this package on its sys.path
    (consumer ran without --py-files) dies with ModuleNotFoundError.
    Registering the kernel modules for by-value pickling makes every UDF
    self-contained — the deployment still works with --py-files, it just
    no longer requires it."""
    import sys
    try:
        from pyspark import cloudpickle
    except ImportError:  # fall back to standalone cloudpickle
        import cloudpickle  # type: ignore
    for mod in PICKLE_BY_VALUE_MODULES:
        if mod in sys.modules:
            cloudpickle.register_pickle_by_value(sys.modules[mod])

READS2_SCHEMA = ("url string, parent_url string, "
                 "n_chars long, n_tokens long, mean_q double, "
                 "window_q double, ratio double, "
                 "child_start int, child_end int, is_child boolean, "
                 "lang_pred string, lang_ok boolean")
READS2_COLS = ["url", "parent_url", "n_chars", "n_tokens", "mean_q",
               "window_q", "ratio", "child_start", "child_end", "is_child",
               "lang_pred", "lang_ok"]


def reads2_parents(urls, n_chars, n_tokens, mean, win, ratio, lang_pred,
                   gated, scrubbed) -> pd.DataFrame:
    """The parent rows of one batch, as both reads2 mappers emit them:
    each doc under its own url as one [0, n_chars) span, langid-gated
    docs with zeroed metrics (n_tokens 0, mean_q/window_q 0.0, ratio
    1.0), and scrubbed parents left out (their children replace them)."""
    import numpy as np
    nd = len(urls)
    return pd.DataFrame({
        "url": urls, "parent_url": urls,
        "n_chars": n_chars,
        "n_tokens": np.where(gated, 0, n_tokens),
        "mean_q": np.where(gated, 0.0, mean),
        "window_q": np.where(gated, 0.0, win),
        "ratio": np.where(gated, 1.0, ratio),
        "child_start": np.zeros(nd, dtype=np.int32),
        "child_end": n_chars.astype(np.int32),
        "is_child": np.zeros(nd, dtype=bool),
        "lang_pred": lang_pred,
        "lang_ok": ~gated,
    }, columns=READS2_COLS)[~scrubbed]


def _batch_scrub(tb, q, texts, gated, trim, split, pii):
    """Vectorized scrub candidate detection + per-doc finalize: derives
    doc lengths and PII spans (cheap necessary-condition scans via
    core.pii_possible before the exact per-pattern pass) from the batch
    texts, then delegates to the shared flat kernel
    core.flat_batch_scrub — the same kernel the distributed-LM
    reassembly runs on sentinel-derived inputs, so the two scrub paths
    can never diverge."""
    import numpy as np
    nd = len(texts)
    nlen = np.fromiter((len(t) for t in texts), dtype=np.int64, count=nd)
    pii_by_doc = {}
    if pii:
        for d, t in enumerate(texts):
            if core.pii_possible(t):  # cheap necessary-condition scan
                sp = core.pii_spans(t)
                if sp:
                    pii_by_doc[d] = sp
    return core.flat_batch_scrub(tb.doc_of, tb.starts, tb.ends, q, nlen,
                                 gated, trim, split, pii_by_doc)


def make_reads2_mapper(accepted_bc, cfg: FilterConfig):
    """One fused mapInPandas pass: score each doc, compute trim/split child
    spans, and emit either the scored parent or the fully re-scored
    children — mirroring the recursive Read constructor
    (src/read.cpp:25-143) where children are built and scored inline.

    Fusing scoring + scrub + child re-scoring into a single Python stage
    avoids the naive plan (UDF -> explode -> second UDF -> union of two
    Python branches): one narrow stage, no shuffle, one worker pass.

    The output carries METRICS ONLY — no text. Like the reference, which
    discards sequences after scoring and re-reads the input at output time
    (src/read.cpp:25-62, src/main.cpp:263-311), survivor text is
    reconstructed later by joining labels back to the source table and
    substring-ing child spans. That keeps the committed snapshot ~50x
    smaller and the text column moves through the cluster exactly once.
    """
    _register_self_contained_pickling()
    window_size = cfg.window_size
    trim, split = cfg.trim, cfg.split
    pii = cfg.pii_scrub
    scrub = trim or split is not None or pii
    langid = cfg.langid_enabled
    lang_expected = cfg.langid_expected

    def _flat_quality(tb, accepted):
        """Batch painting: a C-level membership probe for set payloads
        (blob-buffer is_in — no Python token strings); the bigram-LM
        painter stays per-doc (order-dependent chain) and is the one
        consumer of Python token strings."""
        import numpy as np
        if isinstance(accepted, tuple) and accepted and accepted[0] == "lm":
            qfn = core.quality_for(accepted)
            if not tb.starts.size:
                return np.zeros(0, dtype=np.float64)
            toks = core.batch_token_array(tb).to_pylist()
            parts, o = [], 0
            for c in tb.counts:
                parts.append(qfn(toks[o:o + int(c)]))
                o += int(c)
            return np.concatenate(parts)
        return core.flat_token_quality_batch(tb, accepted)

    def mapper(batches):
        import numpy as np
        import pandas as pd  # noqa: F811 (worker-side)
        for pdf in batches:
            # only url+text cross the Arrow boundary inward, metrics-only
            # outward (no timestamps — pandas timestamp conversion was a
            # measured hotspot). ZERO per-token Python: one blob tokenize
            # (a byte-table run scan over the UTF-8 blob), one is_in
            # paint, prefix-sum means/windows, vectorized bad-run
            # detection; per-doc Python runs only for docs that scrub.
            urls = pdf["url"].to_numpy(dtype=object)
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            nd = len(texts)
            accepted = accepted_bc.value
            tb = core.batch_tokenize(texts)
            counts = tb.counts

            if langid:
                pred, _conf = core.flat_predict_lang_texts(texts)
                if lang_expected is not None:
                    gated = pred != lang_expected
                else:
                    gated = np.zeros(nd, dtype=bool)
            else:
                pred = np.full(nd, None, dtype=object)
                gated = np.zeros(nd, dtype=bool)

            q = _flat_quality(tb, accepted)
            mean, win = core.flat_mean_window(q, counts, window_size)
            ratio = core.flat_window_ratio(mean, win)
            n_chars = np.fromiter((len(t) for t in texts),
                                  dtype=np.int64, count=nd)

            scrubbed = np.zeros(nd, dtype=bool)
            child_rows = []  # (parent_idx, start, end)
            if scrub:
                scrubbed, child_rows = _batch_scrub(
                    tb, q, texts, gated, trim, split, pii)

            out = reads2_parents(urls, n_chars, counts, mean, win, ratio,
                                 pred, gated, scrubbed)

            if child_rows:
                # children re-score through the SAME flat kernels
                ctexts = [texts[d][s:e] for d, s, e in child_rows]
                ctb = core.batch_tokenize(ctexts)
                ccounts = ctb.counts
                cq = _flat_quality(ctb, accepted)
                cmean, cwin = core.flat_mean_window(cq, ccounts, window_size)
                kids = pd.DataFrame({
                    "url": [core.child_name(urls[d], s, e)
                            for d, s, e in child_rows],
                    "parent_url": [urls[d] for d, s, e in child_rows],
                    "n_chars": np.array([e - s for _, s, e in child_rows],
                                        dtype=np.int64),
                    "n_tokens": ccounts,
                    "mean_q": cmean,
                    "window_q": cwin,
                    "ratio": core.flat_window_ratio(cmean, cwin),
                    "child_start": np.array([s for _, s, _ in child_rows],
                                            dtype=np.int32),
                    "child_end": np.array([e for _, _, e in child_rows],
                                          dtype=np.int32),
                    "is_child": np.ones(len(child_rows), dtype=bool),
                    "lang_pred": [pred[d] for d, _, _ in child_rows],
                    "lang_ok": np.ones(len(child_rows), dtype=bool),
                })
                out = pd.concat([out, kids], ignore_index=True)
            yield out

    return mapper, READS2_SCHEMA


def length_score_col(n_chars_col):
    """C5 as a pure Catalyst expression (whole-stage codegen)."""
    return 100.0 * n_chars_col / (n_chars_col + F.lit(core.HALF_LENGTH_SCORE))


def hard_pass_col(cfg: FilterConfig):
    """D1 hard thresholds on RAW metrics as Catalyst predicates
    (src/read.cpp:64-73)."""
    cond = F.lit(True)
    if cfg.min_length is not None:
        cond = cond & (F.col("n_chars") >= F.lit(cfg.min_length))
    if cfg.max_length is not None:
        cond = cond & (F.col("n_chars") <= F.lit(cfg.max_length))
    if cfg.min_mean_q is not None:
        cond = cond & (F.col("mean_q") >= F.lit(cfg.min_mean_q))
    if cfg.min_window_q is not None:
        cond = cond & (F.col("window_q") >= F.lit(cfg.min_window_q))
    return cond
