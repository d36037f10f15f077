"""Text-analysis functions: quality heuristics, language-ID, token counting,
document fingerprinting.

Physical design note: array higher-order functions (transform/filter/
aggregate) are INTERPRETED in Spark — no whole-stage codegen — and showed
pathological JIT variance (2s..150s for identical plans) in this
environment. Every per-token computation here is therefore expressed as
explode + conditional aggregation (fully codegen'd, one shuffle on doc_id)
or as an Arrow-batched pandas UDF. Each operator has an exactly-mirroring
DuckDB SQL in __spark_entry__.py producing bit-identical values.

These are the Gopher/C4-style heuristic-rule slot of the north_star (the
web rendering of Filtlong's hard thresholds, src/read.cpp:64-73) plus the
language-ID gate (analog of FASTA/FASTQ format detection,
src/main.cpp:92-106).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import core  # pickled by value with this module (scoring.py)

TOKENS = r"regexp_extract_all(text, '\\S+', 0)"

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def tokens_col() -> Column:
    return F.expr(TOKENS)


def n_tokens_col() -> Column:
    return F.size(tokens_col())


def token_stats_batch(texts: list[str], vocab_vs, stop_vs):
    """Per-doc (n_tokens, good_tokens, sum_token_len, stop_count,
    n_distinct) int64 arrays for EVERY doc of one Arrow batch (zeros for
    token-less docs) — the body shared by token_stats and the
    classifier's feature pass. Flat blob tokenize without Python token
    strings (core.batch_tokenize, the one Java-\\s kernel, so
    NBSP/ideographic-space text tokenizes IDENTICALLY to the Catalyst
    '\\S+' tokenizer), memberships probed on the per-batch DICTIONARY
    (dictionary_encode: tens of distinct web tokens per thousand
    occurrences) and gathered back by code, distincts counted from the
    (doc, code) pairs. ``vocab_vs``/``stop_vs``: pa.string() value
    sets."""
    import numpy as np
    import pyarrow.compute as pc
    nd = len(texts)
    tb = core.batch_tokenize(texts)
    counts, doc_of = tb.counts, tb.doc_of
    if not tb.starts.size:
        z = np.zeros(nd, dtype=np.int64)
        return counts, z, z, z, z
    de = core.batch_token_array(tb).dictionary_encode()
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vmask = pc.is_in(de.dictionary, value_set=vocab_vs).to_numpy(
        zero_copy_only=False)
    smask = pc.is_in(de.dictionary, value_set=stop_vs).to_numpy(
        zero_copy_only=False)
    good = np.bincount(doc_of[vmask[codes]], minlength=nd)
    stop = np.bincount(doc_of[smask[codes]], minlength=nd)
    c = np.concatenate(([0], np.cumsum(tb.ends - tb.starts)))
    off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    sum_len = c[off[1:]] - c[off[:-1]]
    ndict = len(de.dictionary)
    pairs = np.unique(doc_of * ndict + codes)
    n_distinct = np.bincount(pairs // ndict, minlength=nd)
    return counts, good, sum_len, stop, n_distinct


def token_stats(docs: DataFrame, vocab, key: str = "doc_id") -> DataFrame:
    """All per-token statistics per doc: n_tokens, good_tokens (vocab
    hits), sum_token_len, stop_count, n_distinct. Docs with zero tokens
    emit no row (the aggregate semantics every consumer joins against).
    Every statistic is doc-local, so ONE map-only Arrow pass
    (token_stats_batch) computes them with zero shuffle."""
    from .scoring import _register_self_contained_pickling
    _register_self_contained_pickling()
    vocab_list = sorted(set(vocab))
    stop_list = sorted(set(STOPWORDS))

    def mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        vocab_vs = pa.array(vocab_list, type=pa.string())
        stop_vs = pa.array(stop_list, type=pa.string())
        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            n, good, sum_len, stop, n_distinct = token_stats_batch(
                texts, vocab_vs, stop_vs)
            has = n > 0
            if not has.any():
                continue
            yield pd.DataFrame({
                key: np.asarray(pdf[key])[has],
                "n_tokens": n[has],
                "good_tokens": good[has],
                "sum_token_len": sum_len[has],
                "stop_count": stop[has],
                "n_distinct": n_distinct[has]})

    key_type = dict(docs.dtypes)[key]
    return docs.select(key, "text").mapInPandas(
        mapper, schema=f"{key} {key_type}, n_tokens long, "
                       "good_tokens long, sum_token_len long, "
                       "stop_count long, n_distinct long")


def symbol_count_col() -> Column:
    """Chars that are not alphanumeric or space (codegen'd regexp)."""
    return F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", ""))


def langid_df(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """A2 analog (language-ID) over raw text: ONE Arrow-batched numpy
    pass — core.flat_predict_lang_texts, the same kernel the pipeline's
    langid gate runs (one flat key array + one searchsorted per language
    per batch). Map-only, zero shuffle, linear in corpus bytes.

    The previous pure-Catalyst rendering (position explode + per-trigram
    substring) re-materialized the WHOLE document text on every one of
    its trigram rows — tens of GB of row copying per 5k docs — and was
    2-6x slower however the profile probe was expressed (wide IN-set
    aggregates and a broadcast-join+pivot both measured ~5 s steady at
    sf0.1 vs ~2 s here, plus a 16-19 s first-run codegen/JIT hit). The
    integer hit counts make lang_conf an exact int/int ratio, identical
    to the DuckDB literal-profile-table oracle (argmax with alphabetical
    tiebreak, 'und' on zero hits — asserted by the langid driver row)."""
    from .scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    def mapper(batches):
        import pandas as pd
        for pdf in batches:
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            pred, conf = core.flat_predict_lang_texts(texts)
            yield pd.DataFrame({key: pdf[key], "lang_pred": pred,
                                "lang_conf": conf})

    return docs.select(key, "text").mapInPandas(
        mapper, schema=f"{key} long, lang_pred string, lang_conf double")


def repetition_stats(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Gopher-style REPETITION signals (the north_star's 'repetition'
    heuristic): (key, n_bigrams, top_bigram_n, top_bigram_frac,
    dup_token_frac).

    Physical shape: every statistic is doc-local, so the whole operator
    is ONE map-only Arrow pass — flat batch tokenization
    (core.batch_tokenize, the scoring pipeline's kernel), bigram
    windows via shifted-slice binary_join (core.flat_ngram_windows; a
    \\S+ token never contains a space, so the joined string is a
    bijective bigram key), and an Arrow C++ hash group_by per (doc,
    bigram) — zero shuffle, zero exchange (the previous explode +
    two-level hash aggregate + join-back paid a (doc, bigram)-grain
    exchange carrying gram structs). All-integer counts, identical
    divides -> the repetition oracle row stays bit-exact."""
    from .scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    def mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        for pdf in batches:
            keys = np.asarray(pdf[key], dtype=np.int64)
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            nd = len(texts)
            tb = core.batch_tokenize(texts)
            n_tok = tb.counts
            top_n = np.zeros(nd, dtype=np.int64)
            n_distinct = np.zeros(nd, dtype=np.int64)
            d2, _, w2 = core.flat_ngram_windows(tb, 2)
            if len(d2):
                cnt = (pa.table({"d": pa.array(d2), "g": w2})
                       .group_by(["d", "g"]).aggregate([([], "count_all")]))
                dd = cnt.column("d").to_numpy()
                cc = cnt.column("count_all").to_numpy()
                np.maximum.at(top_n, dd, cc)
            if tb.starts.size:
                toks = core.batch_token_array(tb)
                dcnt = (pa.table({"d": pa.array(tb.doc_of), "g": toks})
                        .group_by(["d", "g"]).aggregate([([], "count_all")]))
                du = dcnt.column("d").to_numpy()
                np.add.at(n_distinct, du, 1)
            n_big = np.maximum(n_tok - 1, 0)
            top_frac = np.where(
                n_big > 0, top_n.astype(np.float64) / np.maximum(n_big, 1),
                0.0)
            dup_frac = np.where(
                n_tok > 0,
                1.0 - n_distinct.astype(np.float64) / np.maximum(n_tok, 1),
                0.0)
            yield pd.DataFrame({
                key: keys, "n_bigrams": n_big, "top_bigram_n": top_n,
                "top_bigram_frac": top_frac, "dup_token_frac": dup_frac})

    return docs.select(key, "text").mapInPandas(
        mapper, schema=f"{key} long, n_bigrams long, top_bigram_n long, "
                       "top_bigram_frac double, dup_token_frac double")


def ngram_repetition_stats(docs: DataFrame, key: str = "doc_id",
                           top_n: int = 3, dup_n: int = 5) -> DataFrame:
    """The character-grain half of Gopher's repetition table (Rae et al.
    2021 §A1.2; repetition_stats covers the token-grain half):

    - ``top_{top_n}gram_pct``: characters of the single most frequent
      token ``top_n``-gram (count x its char length, spaces included) as
      a percentage of the doc's chars. Tie-break: highest count, then
      lexicographically smallest gram — a total order, so the chosen
      gram (returned as ``top_gram``) is deterministic and
      engine-identical.
    - ``dup_{dup_n}gram_pct``: characters covered by REPEATED
      ``dup_n``-grams beyond their first occurrence
      (sum over grams with count >= 2 of (count-1) x char length),
      as a percentage of doc chars — the overlap-insensitive rendering
      of Gopher's duplicate-n-gram character fraction.

    Physical shape: every statistic is doc-local, so the operator is
    ONE map-only Arrow pass — flat batch tokenization, n-gram windows
    via shifted-slice binary_join (core.flat_ngram_windows), Arrow C++
    hash group_by per (doc, gram), and a (d asc, count desc, gram asc)
    sort for the deterministic top-gram pick (Arrow's binary sort order
    == Spark's UTF8 binary compare) — zero shuffle. All-integer counts;
    the single divide per ratio happens in the same order in the DuckDB
    oracle, so values are bit-identical."""
    from .scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    def mapper(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        for pdf in batches:
            keys = np.asarray(pdf[key], dtype=np.int64)
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            nd = len(texts)
            n_chars = np.fromiter((len(t) for t in texts),
                                  dtype=np.int64, count=nd)
            tb = core.batch_tokenize(texts)

            top_c = np.zeros(nd, dtype=np.int64)
            top_len = np.zeros(nd, dtype=np.int64)
            top_gram = np.full(nd, "", dtype=object)
            has_top = np.zeros(nd, dtype=bool)
            d3, _, w3 = core.flat_ngram_windows(tb, top_n)
            if len(d3):
                cnt = (pa.table({"d": pa.array(d3), "g": w3})
                       .group_by(["d", "g"]).aggregate([([], "count_all")]))
                order = pc.sort_indices(cnt, sort_keys=[
                    ("d", "ascending"), ("count_all", "descending"),
                    ("g", "ascending")])
                cnt = cnt.take(order)
                dd = cnt.column("d").to_numpy()
                first = np.unique(dd, return_index=True)[1]
                sel_d = dd[first]
                gsel = cnt.column("g").take(pa.array(first)).combine_chunks()
                top_c[sel_d] = cnt.column("count_all").to_numpy()[first]
                top_len[sel_d] = pc.utf8_length(gsel).to_numpy()
                top_gram[sel_d] = gsel.to_pylist()
                has_top[sel_d] = True

            dup_chars = np.zeros(nd, dtype=np.int64)
            has_dup = np.zeros(nd, dtype=bool)
            d5, _, w5 = core.flat_ngram_windows(tb, dup_n)
            if len(d5):
                cnt5 = (pa.table({"d": pa.array(d5), "g": w5})
                        .group_by(["d", "g"]).aggregate([([], "count_all")]))
                c5 = cnt5.column("count_all").to_numpy()
                mask = c5 >= 2
                if mask.any():
                    du = cnt5.column("d").to_numpy()[mask]
                    glen = pc.utf8_length(
                        cnt5.column("g").combine_chunks()).to_numpy()[mask]
                    np.add.at(dup_chars, du, (c5[mask] - 1) * glen)
                    has_dup[du] = True

            safe_n = np.maximum(n_chars, 1)
            top_pct = np.where(
                has_top & (n_chars > 0),
                (100.0 * top_c * top_len) / safe_n, 0.0)
            dup_pct = np.where(
                has_dup & (n_chars > 0),
                (100.0 * dup_chars) / safe_n, 0.0)
            yield pd.DataFrame({
                key: keys, "top_gram": top_gram,
                f"top_{top_n}gram_pct": top_pct,
                f"dup_{dup_n}gram_pct": dup_pct})

    return docs.select(key, "text").mapInPandas(
        mapper, schema=f"{key} long, top_gram string, "
                       f"top_{top_n}gram_pct double, "
                       f"dup_{dup_n}gram_pct double")


FINGERPRINT_MOD = 1_000_000_007


def fingerprint_df(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Order-sensitive polynomial rolling hash over token hashes:
    acc = (acc*31 + h) % 1e9+7, h = first 8 md5 hex chars as int — the web
    analog of the reference's rolling 2-bit k-mer encode
    (src/kmers.cpp:106-121). Vectorized via the closed form
    acc = sum_j h_j * 31^(n-1-j) mod p (every term < p^2 < 2^63 -> exact
    int64), with ONE md5 per DISTINCT token per batch; identical to the
    sequential fold (and the DuckDB list_reduce oracle) bit-for-bit."""
    from .scoring import _register_self_contained_pickling
    from ..operators.dedup import _md5_60_arrow  # def-time capture
    _register_self_contained_pickling()
    P = FINGERPRINT_MOD

    @F.pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        # fully flat (the per-doc findall + dict.fromkeys loop is gone):
        # blob tokenize without Python token strings, distinct-token md5
        # via Arrow dictionary_encode over the buffer-built array, and
        # the closed form evaluated once over the whole batch (per-token
        # exponent = counts[doc]-1-pos; (h*pw)%P < P and the global
        # cumsum of <2^30 terms stays exact in int64 — identical to the
        # sequential fold bit-for-bit, same argument as before).
        import numpy as np
        texts_l = [t if isinstance(t, str) else "" for t in texts]
        nd = len(texts_l)
        out = np.zeros(nd, dtype=np.int64)
        tb = core.batch_tokenize(texts_l)
        T = tb.starts.size
        if T:
            arr = core.batch_token_array(tb)
            de = arr.dictionary_encode()
            codes = de.indices.to_numpy(
                zero_copy_only=False).astype(np.int64)
            # first 8 md5 hex chars == top 32 bits of the 60-bit prefix
            hu = (_md5_60_arrow(de.dictionary) >> 28) % P
            h = hu[codes]
            counts = tb.counts
            off = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(counts, out=off[1:])
            maxn = int(counts.max())
            pw = np.ones(maxn, dtype=np.int64)
            for k in range(1, maxn):
                pw[k] = pw[k - 1] * 31 % P
            pos = np.arange(T, dtype=np.int64) - off[tb.doc_of]
            exps = counts[tb.doc_of] - 1 - pos
            seg = h * pw[exps] % P
            c = np.concatenate(([0], np.cumsum(seg)))
            out_nz = (c[off[1:]] - c[off[:-1]]) % P
            out = out_nz.astype(np.int64)
        return pd.Series(out, dtype="int64")

    return docs.select(key, fp(F.col("text")).alias("fingerprint"))
