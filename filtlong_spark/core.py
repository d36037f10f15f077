"""Shared scoring kernels — the single source of truth for the math.

These pure-Python/numpy functions are used BOTH by the Spark pandas UDFs
(``filtlong_spark.functions.scoring``) and by the pure-Python reference
oracle (``filtlong_spark.oracle``), so the two always agree bit-for-bit.

Semantics are a faithful web-text re-expression of rrwick/Filtlong:

- token quality painting  <- per-base quality / k-mer painting
  (reference: src/read.cpp:35-58)
- mean quality            <- Read::get_mean_quality (src/read.cpp:208-213)
- window quality          <- Read::get_window_quality (src/read.cpp:216-236)
- length score            <- Read::get_length_score (src/read.cpp:238-244)
- final score             <- Read::set_final_score (src/read.cpp:247-267)
- z-score normalization   <- src/main.cpp:169-212
- trim/split spans        <- src/read.cpp:75-143

Domain translation (SURVEY.md table): read -> document, base -> character,
per-base Phred quality -> per-token model-quality signal, k-mer reference
set -> accepted-token (hashed n-gram) set.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

# Java regex \S: re.ASCII limits \s to [ \t\n\x0B\f\r], the set Catalyst's
# regexp_extract_all(text, '\\S+') splits on.
TOKEN_RE = re.compile(r"\S+", re.ASCII)

# Half-score length: a document of this many chars scores 50.
# Mirrors the hard-coded 5 kbp in Read::get_length_score (src/read.cpp:240).
HALF_LENGTH_SCORE = 5000.0


def tokenize(text: str) -> list[tuple[str, int, int]]:
    """Tokens as (token, start_char, end_char) — maximal runs of anything
    but Java whitespace. The scalar reference for batch_tokenize, so the
    oracle and the Arrow kernels share one convention: NBSP, U+3000,
    U+001C-U+001F and U+0085 are token characters, exactly as in
    Catalyst's ``regexp_extract_all(text, '\\S+')``. The DuckDB mirrors
    (RE2) split the same way except on vertical tab, which RE2's \\s
    leaves inside a token.

    The char offsets are what make scrubbed text byte-identical between
    the Spark pipeline, the oracle, and the DuckDB SQL.
    """
    return [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]


def token_quality(tokens: list[str], accepted: set[str]) -> np.ndarray:
    """Per-token 0/1 quality: 1.0 if the token is in the accepted set.

    Web analog of quality painting: in intrinsic mode ``accepted`` is the
    fixed vocabulary (<- Phred path, src/read.cpp:35-39); in reference mode
    it is the broadcast accepted-n-gram set (<- k-mer painting,
    src/read.cpp:41-58).
    """
    if not tokens:
        return np.zeros(0, dtype=np.float64)
    return np.fromiter((1.0 if t in accepted else 0.0 for t in tokens),
                       dtype=np.float64, count=len(tokens))


def quality_for(accepted):
    """Dispatch the per-token quality painter from a broadcast payload:
    a plain set (vocab / accepted n-grams) or an ('lm', c2, c1, total,
    threshold) bigram-LM tuple. Single dispatch point shared by the Spark
    mappers and the oracle."""
    if isinstance(accepted, tuple) and accepted and accepted[0] == "lm":
        _, c2, c1, total, thr = accepted
        return lambda toks: bigram_quality(toks, c2, c1, total, thr)
    return lambda toks: token_quality(toks, accepted)


def mean_quality(q: np.ndarray) -> float:
    """100 * mean(per-token quality). Reference: src/read.cpp:208-213.

    Computed as 100*sum/n so an integer 0/1 sum divided by an int is
    bit-identical to the SQL oracle's ``100.0*good/total``.
    """
    n = q.size
    if n == 0:
        return 0.0
    return 100.0 * float(q.sum()) / n


def window_quality(q: np.ndarray, window_size: int) -> float:
    """Minimum sliding-window mean quality, x100.

    Reference: Read::get_window_quality (src/read.cpp:216-236):
    - whole-doc mean if n <= window_size
    - else min over all windows of size ``window_size`` of the window mean
    - snap to 0.0 if the min window mean < 0.5/window_size

    Implemented as cumsum-diff (O(n)); with 0/1 qualities the window sums
    are exact integers, so ``min(sum)/window_size`` matches the SQL
    oracle's ``min(window_avg)`` bit-for-bit.
    """
    n = q.size
    if n == 0:
        return 0.0
    if n <= window_size:
        return mean_quality(q)
    c = np.concatenate(([0.0], np.cumsum(q)))
    window_sums = c[window_size:] - c[:-window_size]
    min_mean = float(window_sums.min()) / window_size
    if min_mean < 0.5 / window_size:
        min_mean = 0.0
    return 100.0 * min_mean


def length_score(n_chars: int, half: float = HALF_LENGTH_SCORE) -> float:
    """100 * n/(n+half). Reference: src/read.cpp:238-244 (written there as
    100*(1 - half/(n+half)); this closed form is algebraically identical —
    we standardize on 100.0*n/(n+half) in BOTH engines)."""
    return 100.0 * n_chars / (n_chars + half)


def window_ratio(mean_q: float, window_q: float) -> float:
    """min(window_q/mean_q, 1), computed on PRE-normalization values
    (src/main.cpp:203-205). Policy for mean_q == 0 (reference divides by
    zero -> NaN): ratio = 1.0, documented in FIXTURES.md F7."""
    if mean_q <= 0.0:
        return 1.0
    r = window_q / mean_q
    return 1.0 if r > 1.0 else r


def normalize_mean_q(mean_q: float, mu: float, sigma: float,
                     min_q: float, max_q: float) -> float:
    """Z-score scaling to 0..100 (src/main.cpp:169-212).

    For sigma > 0 this equals 100*(mean_q - min_q)/(max_q - min_q) exactly:
      z      = (mean_q - mu)/sigma
      z_min  = (min_q - mu)/sigma ; z_max = (max_q - mu)/sigma
      score  = 100*(z - z_min)/(z_max - z_min)
             = 100*(mean_q - min_q)/(max_q - min_q)
    We standardize on the closed form (both engines) so mu/sigma rounding
    can never differ. sigma == 0 (all docs identical quality — the
    reference NaNs here, src/main.cpp:186-207): policy = every doc scores
    50.0 (FIXTURES.md F7)."""
    if sigma <= 0.0 or max_q <= min_q:
        return 50.0
    return 100.0 * (mean_q - min_q) / (max_q - min_q)


def final_score(length_s: float, mean_q_score: float, ratio: float,
                length_weight: float = 1.0, mean_q_weight: float = 1.0,
                window_q_weight: float = 1.0) -> float:
    """Weighted geometric mean scaled by the window ratio.

    Reference: Read::set_final_score (src/read.cpp:247-267). Inputs are the
    NORMALIZED mean-quality score and the PRE-normalization window ratio
    (src/main.cpp:198-212).

    With default weights (1,1) the geometric mean is computed via sqrt,
    which is IEEE-correctly-rounded in BOTH the JVM (Spark) and C (Python)
    — so final scores are bit-identical across engines; general pow is
    only 1-ulp-accurate on the JVM."""
    if length_weight == 1.0 and mean_q_weight == 1.0:
        g = math.sqrt(length_s * mean_q_score)
    else:
        product = (length_s ** length_weight) * (mean_q_score ** mean_q_weight)
        g = product ** (1.0 / (length_weight + mean_q_weight))
    total_w = length_weight + mean_q_weight + window_q_weight
    wf = window_q_weight / total_w
    return g * ((1.0 - wf) + ratio * wf)


# ---------------------------------------------------------------------------
# Flat (batch-vectorized) kernels: the same math as the scalar functions
# above, computed once over the concatenated token stream of a whole Arrow
# batch. Property-tested bit-identical to the scalar path (tests/test_core).
# The scalar functions remain the oracle's source of truth.
# ---------------------------------------------------------------------------


# Java regex whitespace [ \t\n\x0B\f\r]: what Catalyst's
# regexp_extract_all(text, '\\S+') splits on, and TOKEN_RE's re.ASCII \s.
# All six are ASCII bytes and no UTF-8 multi-byte sequence holds an
# ASCII byte, so this one byte table finds every token of any text.
_WS_BYTE = np.zeros(256, dtype=bool)
_WS_BYTE[[0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20]] = True


class TokenBatch:
    """Flat tokenization of a whole batch: doc_of (doc index per token),
    starts/ends (DOC-LOCAL codepoint offsets), counts (tokens per doc),
    and each token's byte range [bstarts, bends) in the batch's UTF-8
    blob ``u8`` (read by batch_token_array)."""
    __slots__ = ("doc_of", "starts", "ends", "counts", "u8", "bstarts",
                 "bends")

    def __init__(self, doc_of, starts, ends, counts, u8, bstarts, bends):
        self.doc_of, self.starts, self.ends = doc_of, starts, ends
        self.counts, self.u8 = counts, u8
        self.bstarts, self.bends = bstarts, bends


def batch_tokenize(texts: list[str]) -> TokenBatch:
    """Tokenize a batch with ZERO per-token Python: join the docs into one
    blob (single-space separators, so tokens never straddle docs), encode
    it to UTF-8 once, and find the non-whitespace runs with one byte
    table lookup. Codepoint offsets (what _batch_scrub, child spans and
    F.substring need) are a prefix count of the non-continuation bytes;
    on ASCII blobs they equal the byte offsets. A lone surrogate (only a
    Python caller can pass one, e.g. text from a ``surrogateescape``
    decoder; Spark's Arrow batches cannot carry it) becomes U+FFFD in the
    blob: its three surrogatepass bytes are rewritten in place, so byte
    and codepoint offsets do not move and the blob stays valid UTF-8.
    Per doc, equal to tokenize() (property-tested) and to Catalyst's
    '\\S+' tokens."""
    nd = len(texts)
    empty = np.zeros(0, dtype=np.int64)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=nd)
    doc_starts = np.zeros(nd, dtype=np.int64)
    if nd > 1:
        np.cumsum(lens[:-1] + 1, out=doc_starts[1:])
    blob = " ".join(texts)
    try:
        u8 = np.frombuffer(blob.encode("utf-8"), dtype=np.uint8)
    except UnicodeEncodeError:
        u8 = np.frombuffer(blob.encode("utf-8", "surrogatepass"),
                           dtype=np.uint8).copy()
        # a surrogate encodes as ED A0-BF xx; ED is always a lead byte
        sur = np.nonzero((u8[:-2] == 0xED) & (u8[1:-1] >= 0xA0))[0]
        u8[sur], u8[sur + 1], u8[sur + 2] = 0xEF, 0xBF, 0xBD
    nz = ~_WS_BYTE[u8]
    if not nz.any():
        return TokenBatch(empty, empty, empty, np.zeros(nd, dtype=np.int64),
                          u8, empty, empty)
    d8 = np.diff(nz.view(np.int8))
    bstarts = np.nonzero(d8 == 1)[0] + 1
    bends = np.nonzero(d8 == -1)[0] + 1
    if nz[0]:
        bstarts = np.concatenate(([0], bstarts))
    if nz[-1]:
        bends = np.concatenate((bends, [u8.size]))
    if blob.isascii():  # O(1) flag check: one byte per codepoint
        tstarts, tends = bstarts, bends
    else:
        cp = np.zeros(u8.size + 1, dtype=np.int64)
        np.cumsum((u8 & 0xC0) != 0x80, out=cp[1:])
        tstarts, tends = cp[bstarts], cp[bends]
    doc_of = np.searchsorted(doc_starts, tstarts, side="right") - 1
    counts = np.bincount(doc_of, minlength=nd).astype(np.int64)
    return TokenBatch(doc_of, tstarts - doc_starts[doc_of],
                      tends - doc_starts[doc_of], counts, u8, bstarts, bends)


def batch_token_array(tb: "TokenBatch"):
    """The batch's flat token list as ONE pyarrow StringArray, built
    directly from the blob's UTF-8 buffer (a vectorized gather of each
    token's byte range + an offsets cumsum — zero Python string objects;
    pa.array(list_of_str) measured ~1.6 us/token, the single hottest
    step of any window kernel). Element i is the i-th token in doc
    order, equal to the i-th regexp_extract_all(text, '\\S+') row (a lone
    surrogate reads as U+FFFD, see batch_tokenize)."""
    import pyarrow as pa
    n = tb.bstarts.size
    if n == 0:
        return pa.array([], type=pa.string())
    lens = tb.bends - tb.bstarts
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    # concat of ranges [bstarts[i], bends[i]) as one gather
    idx = np.repeat(tb.bstarts - offsets[:-1], lens) + np.arange(total)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(tb.u8[idx]))


def flat_ngram_windows(tb: "TokenBatch", n: int):
    """(doc_of, pos, windows): EVERY n-token window of every doc in the
    batch — windows as the space-joined strings (bit-identical to
    ' '.join(tokens[i:i+n])), built for the whole batch at once with n
    shifted Arrow slices + one binary_join_element_wise C++ kernel.
    pos is the 1-based window start position within its doc."""
    import pyarrow as pa
    import pyarrow.compute as pc
    T = tb.starts.size
    empty = np.zeros(0, dtype=np.int64)
    if T < n:
        return empty, empty, pa.array([], type=pa.string())
    toks = batch_token_array(tb)
    m = T - n + 1
    wins = pc.binary_join_element_wise(*[toks.slice(i, m) for i in range(n)],
                                       " ")
    valid = tb.doc_of[:m] == tb.doc_of[n - 1:]
    idx = np.nonzero(valid)[0]
    off = np.zeros(tb.counts.size + 1, dtype=np.int64)
    np.cumsum(tb.counts, out=off[1:])
    d = tb.doc_of[idx]
    pos = idx - off[d] + 1
    return d, pos, wins.take(pa.array(idx))


# accepted-set -> pyarrow value_set, cached per worker. Keyed by id()
# WITH a strong reference to the set stored alongside, so the id can
# never be recycled; one entry per broadcast accepted set per worker.
_VALUE_SET_CACHE: dict = {}


def _accepted_value_set(accepted):
    import pyarrow as pa
    got = _VALUE_SET_CACHE.get(id(accepted))
    if got is None or got[0] is not accepted:
        got = (accepted, pa.array(list(accepted), type=pa.string()))
        _VALUE_SET_CACHE[id(accepted)] = got
    return got[1]


def flat_token_quality_batch(tb: "TokenBatch", accepted) -> np.ndarray:
    """Vectorized 0/1 painting of a whole batch: pyarrow is_in over
    batch_token_array, so NO per-token Python strings are ever built.
    Identical to token_quality applied per doc (set membership on
    identical strings)."""
    import pyarrow.compute as pc
    if tb.starts.size == 0:
        return np.zeros(0, dtype=np.float64)
    hits = pc.is_in(batch_token_array(tb),
                    value_set=_accepted_value_set(accepted))
    return hits.to_numpy(zero_copy_only=False).astype(np.float64)


def flat_mean_window(q_flat: np.ndarray, counts: np.ndarray,
                     window_size: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean_q, window_q) per doc from the concatenated quality array.

    Exactness argument: all partial sums are sums of 0/1 values — exact
    integers in float64 — so prefix-sum differences equal the per-doc sums
    bit-for-bit, and every division has identical operands to the scalar
    path (mean_quality / window_quality above).
    """
    counts = np.asarray(counts, dtype=np.int64)
    n_docs = counts.size
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    c = np.concatenate(([0.0], np.cumsum(q_flat)))
    sums = c[offsets[1:]] - c[offsets[:-1]]
    safe_n = np.maximum(counts, 1)
    mean = np.where(counts > 0, 100.0 * sums / safe_n, 0.0)

    win = mean.copy()  # n <= window_size -> whole-doc mean (incl. n == 0)
    w = window_size
    if q_flat.size > w:
        ws = c[w:] - c[:-w]  # ws[i] = sum(q_flat[i:i+w]), exact ints
        big = np.nonzero(counts > w)[0]
        snap = 0.5 / w
        for d in big:
            o = offsets[d]
            m = float(ws[o:o + counts[d] - w + 1].min()) / w
            win[d] = 0.0 if m < snap else 100.0 * m
    return mean, win


def flat_window_ratio(mean: np.ndarray, win: np.ndarray) -> np.ndarray:
    """Vectorized window_ratio: 1.0 when mean <= 0, else min(win/mean, 1)."""
    safe = np.where(mean > 0.0, mean, 1.0)
    return np.where(mean <= 0.0, 1.0, np.minimum(win / safe, 1.0))


_TRIGRAM_TABLES = None

# Language-ID reads at most this many leading chars per document — what
# every production LID does (CLD2/fastText classify a bounded sample):
# ~1000 chars is ~998 trigram draws, statistically far past the point
# where the argmax stabilizes, while an unbounded scan made LID scale
# with document LENGTH and dominate the whole scoring stage (measured
# 1.27 ms/doc on 3 kB web docs — more than tokenize+score combined).
# The DuckDB oracle mirrors the same cap (substr(text, 1, N)).
LID_SAMPLE_CHARS = 1000


def _trigram_key(tg: str) -> int:
    """Pack a 3-char trigram into one int64: 21 bits per codepoint —
    exact for every Unicode scalar, so integer membership == string
    membership."""
    return (ord(tg[0]) << 42) | (ord(tg[1]) << 21) | ord(tg[2])


def _trigram_tables():
    """(langs, union_keys, mask): ALL language profiles merged into ONE
    sorted int64 key array plus a per-key uint16 membership bitmask
    (bit li set when the key is in langs[li]'s profile) — lazy (profiles
    are defined further down this module). One merged table means the
    hot path runs ONE searchsorted over the trigram stream instead of
    one per language; the per-language counts come from 12 cheap
    weighted bincounts over the hits. Membership semantics are
    identical to the per-language arrays (the mask is exactly per-lang
    membership), so predictions don't move."""
    prof = trigram_profiles()
    langs = sorted(prof)
    assert len(langs) <= 16, "mask dtype needs widening past 16 langs"
    keys = []
    for lang in langs:
        arr = np.array([_trigram_key(t) for t in prof[lang]],
                       dtype=np.int64)
        arr.sort()
        keys.append(arr)
    union = np.unique(np.concatenate(keys))
    mask = np.zeros(union.size, dtype=np.uint16)
    for li, kl in enumerate(keys):
        mask[np.searchsorted(union, kl)] |= np.uint16(1 << li)
    # combo tables: the distinct membership BITMASK values (K of them —
    # tens, not 2^16), a 65536-entry LUT mapping mask -> combo code, and
    # the (L, K) per-combo language membership matrix. The hot path then
    # counts (doc, combo) pairs with ONE unweighted bincount and recovers
    # per-language counts with a tiny integer matmul — exactly equal to
    # the previous 12 weighted bincounts (measured 11x faster).
    mvals = np.unique(mask)
    combo_lut = np.zeros(1 << 16, dtype=np.int64)
    combo_lut[mvals] = np.arange(mvals.size)
    memb = ((mvals[None, :].astype(np.int64)
             >> np.arange(len(langs))[:, None]) & 1).astype(np.int64)
    return langs, union, mask, combo_lut, mvals.size, memb


def _text_trigram_keys(text: str) -> np.ndarray:
    """All overlapping char-trigram keys of lower(text), vectorized:
    utf-32 view -> three shifted slices packed into int64. surrogatepass:
    lone surrogates (reachable via surrogateescape upstream decoders;
    batch_tokenize also encodes with surrogatepass) encode as their
    codepoint, occupy a trigram position like any other char, and match
    no profile key — instead of UnicodeEncodeError killing the stage."""
    u = np.frombuffer(text.lower().encode("utf-32-le", "surrogatepass"),
                      dtype=np.uint32).astype(np.int64)
    if u.size < 3:
        return np.zeros(0, dtype=np.int64)
    return (u[:-2] << 42) | (u[1:-1] << 21) | u[2:]


def flat_predict_lang_texts(texts) -> tuple[np.ndarray, np.ndarray]:
    """Batch language-ID over raw texts: per doc, count how many of its
    char-trigram occurrences fall in each language profile (sorted-array
    membership — one searchsorted per language), argmax with alphabetical
    tiebreak, 'und' when nothing matches. Mirrors the Catalyst/SQL
    implementations exactly (integer counts -> identical ratios).

    Script short-circuit (what every production langid does for
    script-exclusive languages): Hangul -> ko, else kana -> ja, else
    Han -> zh — BEFORE the trigram argmax, gated on the script filling
    >= 5% of trigram positions so one quoted CJK name can't reroute an
    English document. Han/kana trigrams
    barely repeat across topics (a held-out Chinese text can share zero
    trigrams with a multi-KB profile), but the SCRIPT identifies the
    language unambiguously; kana-priority routes kanji+kana Japanese
    correctly. Script counts reuse the packed trigram keys (first
    codepoint = key >> 42, i.e. chars at positions [0, n-2)) so the SQL
    oracle mirrors them with unicode(tg) on the same trigram stream;
    routed docs report conf = script_chars / trigram_positions.

    Reads only the first LID_SAMPLE_CHARS chars of each doc (the
    production-LID bounded sample — see the constant's comment); the
    profile probe is ONE searchsorted over the merged union table, with
    per-language counts recovered from the membership bitmask."""
    global _TRIGRAM_TABLES
    if _TRIGRAM_TABLES is None:
        _TRIGRAM_TABLES = _trigram_tables()
    langs, union, mask, combo_lut, n_combos, memb = _TRIGRAM_TABLES
    L = len(langs)
    nd = len(texts)
    per_lang = np.zeros((L, nd), dtype=np.int64)
    n_hangul = np.zeros(nd, dtype=np.int64)
    n_kana = np.zeros(nd, dtype=np.int64)
    n_han = np.zeros(nd, dtype=np.int64)
    # one flat key array + ONE searchsorted over the union table for the
    # whole batch; per-lang counts via ONE unweighted (doc, combo)
    # bincount + the tiny membership matmul (see _trigram_tables) —
    # not per-doc, not per-language
    keys_per_doc = [_text_trigram_keys((t or "")[:LID_SAMPLE_CHARS])
                    for t in texts]
    sizes = np.fromiter((k.size for k in keys_per_doc),
                        dtype=np.int64, count=nd)
    if sizes.sum():
        flat = np.concatenate(keys_per_doc)
        doc_of = np.repeat(np.arange(nd), sizes)
        idx = np.searchsorted(union, flat)
        idx[idx == union.size] = 0
        hit = union[idx] == flat
        dhit = doc_of[hit]
        combos = combo_lut[mask[idx[hit]]]
        cc = np.bincount(dhit * n_combos + combos,
                         minlength=nd * n_combos).reshape(nd, n_combos)
        per_lang = memb @ cc.T
        cp = flat >> 42                      # first codepoint per trigram
        for arr, lo, hi in ((n_hangul, 0xAC00, 0xD7AF),
                            (n_kana, 0x3040, 0x30FF),
                            (n_han, 0x4E00, 0x9FFF)):
            m = (cp >= lo) & (cp <= hi)
            arr[:] = np.bincount(doc_of[m], minlength=nd)
    total = per_lang.sum(axis=0)
    best = per_lang.argmax(axis=0)
    pred = np.array(langs, dtype=object)[best]
    pred[total == 0] = "und"
    conf = np.where(total > 0,
                    per_lang[best, np.arange(nd)] / np.maximum(total, 1),
                    0.0)
    # script-exclusive routing (priority: hangul > kana > han), gated on
    # the script being >= 5% of trigram positions — presence alone would
    # let ONE quoted CJK name reclassify an otherwise-English document
    # (and the langid gate would then drop it); genuinely-CJK text sits
    # near 100% so the threshold costs nothing there. Integer form
    # (20 * n >= positions) mirrors exactly in the SQL oracle.
    r_hangul = (n_hangul > 0) & (n_hangul * 20 >= sizes)
    r_kana = (n_kana > 0) & (n_kana * 20 >= sizes)
    r_han = (n_han > 0) & (n_han * 20 >= sizes)
    routed = r_hangul | r_kana | r_han
    if routed.any():
        script_pred = np.where(
            r_hangul, "ko", np.where(r_kana, "ja", "zh"))
        script_n = np.where(
            r_hangul, n_hangul, np.where(r_kana, n_kana, n_han))
        pred[routed] = script_pred[routed]
        conf[routed] = (script_n[routed]
                        / np.maximum(sizes[routed], 1))
    return pred, conf


# ---------------------------------------------------------------------------
# Scrub (trim/split) span computation — reference src/read.cpp:75-143
# ---------------------------------------------------------------------------

@dataclass
class ScrubResult:
    """Child spans of a document after trim/split, in char offsets."""
    child_spans: list[tuple[int, int]] = field(default_factory=list)
    changed: bool = False  # True if any trimming/splitting happened


def scrub_spans(text: str, spans_q: list[tuple[int, int, float]],
                trim: bool, split_threshold: int | None,
                extra_bad: list[tuple[int, int]] | None = None) -> ScrubResult:
    """Compute good child char-spans from per-token qualities.

    ``spans_q`` is [(start_char, end_char, quality)] per token, in order.
    ``extra_bad`` (e.g. PII/toxicity regex spans) are bad ranges that are
    ALWAYS removed, regardless of the split length threshold.

    - bad runs: maximal runs of consecutive quality-0 tokens; the run's
      char span is [start of first bad token, end of last bad token)
      (<- runs of quality-0 bases, src/read.cpp:88-103)
    - split: a bad run becomes a bad range iff its char length >=
      split_threshold (src/read.cpp:94-99)
    - trim: prepend [0, first_good_start) and append [last_good_end, len)
      (<- src/read.cpp:105-117)
    - children: complement of bad ranges over [0, len), empty spans
      dropped (src/read.cpp:119-130)

    Returns changed=False (no children) when no bad range was found, which
    mirrors the parent being output unchanged (src/main.cpp:140-147).
    """
    return finalize_scrub(
        compute_bad_ranges(spans_q, trim, split_threshold, len(text),
                           extra_bad), len(text))


def compute_bad_ranges(spans_q: list[tuple[int, int, float]],
                       trim: bool, split_threshold: int | None, n: int,
                       extra_bad: list[tuple[int, int]] | None = None
                       ) -> list[tuple[int, int]]:
    """The bad-range half of scrub_spans, parameterized on the doc length
    instead of the text (the distributed LM path scrubs from token offsets
    alone — the text never reaches that stage)."""
    bad_ranges: list[tuple[int, int]] = list(extra_bad or [])

    good_idx = [i for i, (_, _, q) in enumerate(spans_q) if q > 0.0]

    if split_threshold is not None:
        run_start = None
        prev_i = None
        for i, (s, e, q) in enumerate(spans_q):
            if q <= 0.0:
                if run_start is None:
                    run_start = i
                prev_i = i
            else:
                if run_start is not None:
                    rs, re_ = spans_q[run_start][0], spans_q[prev_i][1]
                    if re_ - rs >= split_threshold:
                        bad_ranges.append((rs, re_))
                    run_start = None
        if run_start is not None:
            rs, re_ = spans_q[run_start][0], spans_q[prev_i][1]
            if re_ - rs >= split_threshold:
                bad_ranges.append((rs, re_))

    if trim and good_idx:
        # no good tokens -> NO trim ranges (reference: first_base_in_kmer
        # stays -1 and both trim conditions are false, src/read.cpp:105-117
        # — the all-bad parent passes through and fails thresholds instead)
        first_good = spans_q[good_idx[0]][0]
        last_good = spans_q[good_idx[-1]][1]
        for tr in ((0, first_good), (last_good, n)):
            if tr[1] > tr[0] and tr not in bad_ranges:
                bad_ranges.append(tr)

    return bad_ranges


def finalize_scrub(bad_ranges: list[tuple[int, int]], n: int) -> ScrubResult:
    """Shared tail of scrub_spans: complement the bad ranges; empty bad set
    or zero children -> the parent survives unchanged (the
    m_child_reads.size()==0 path, src/main.cpp:140-147). Called by both the
    scalar path above and the batch-vectorized scrubber (functions/scoring)
    so the corner semantics can never diverge."""
    if not bad_ranges:
        return ScrubResult(child_spans=[(0, n)], changed=False)

    children = complement_bad_ranges(bad_ranges, n)
    if not children:
        return ScrubResult(child_spans=[(0, n)], changed=False)
    return ScrubResult(child_spans=children, changed=True)


def complement_bad_ranges(bad_ranges: list[tuple[int, int]],
                          n: int) -> list[tuple[int, int]]:
    """Sort + merge bad ranges, complement over [0, n) -> good child spans
    (src/read.cpp:119-130; shared by the token-grain and base-grain scrub
    paths so both have identical corner semantics. Documented deviation:
    the reference walks ranges in insertion order, which in a token world
    can interleave a trim range (separator-inclusive) with a split range
    (separator-exclusive); sort+merge resolves that corner
    deterministically)."""
    bad = sorted(bad_ranges)
    merged: list[tuple[int, int]] = []
    for s, e in bad:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    children: list[tuple[int, int]] = []
    pos = 0
    for s, e in merged:
        if s > pos:
            children.append((pos, s))
        pos = max(pos, e)
    if pos < n:
        children.append((pos, n))
    return children


def child_name(url: str, start: int, end: int) -> str:
    """{parent}_{start+1}-{end}, 1-based inclusive (src/read.cpp:135-136)."""
    return f"{url}_{start + 1}-{end}"


def flat_batch_scrub(doc_of: np.ndarray, starts: np.ndarray,
                     ends: np.ndarray, q: np.ndarray, nlen: np.ndarray,
                     gated: np.ndarray, trim: bool,
                     split: int | None,
                     pii_by_doc: dict[int, list[tuple[int, int]]]
                     ) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """Vectorized scrub candidate detection + per-doc finalize, over FLAT
    token-grain arrays (doc_of/starts/ends/q sorted by doc then token
    order; nlen = per-doc char length; pii_by_doc = precomputed PII
    spans). Bad RUNS are found over the whole batch at once (boundary
    masks on the flat quality array); trim edges via first/last-good
    gathers; only docs with an actual selected range run any per-doc
    Python, and that step is just range assembly + finalize_scrub —
    semantics identical to scrub_spans (property-tested). Shared by the
    intrinsic fused scorer (functions/scoring, which derives nlen/PII
    from the batch texts) and the distributed-LM reassembly
    (operators/lm, which gets them from sentinel rows — the text itself
    never reaches that stage). Returns (scrubbed mask, child rows as
    (doc_idx, start, end))."""
    nd = nlen.size
    nt = q.size
    bad = q <= 0.0

    run_doc = np.zeros(0, dtype=np.int64)
    run_s = run_e = run_doc
    if split is not None and nt:
        same = np.zeros(nt, dtype=bool)
        same[1:] = doc_of[1:] == doc_of[:-1]   # same doc as previous token
        pb = np.zeros(nt, dtype=bool)
        pb[1:] = bad[:-1]
        nb = np.zeros(nt, dtype=bool)
        nb[:-1] = bad[1:]
        samen = np.zeros(nt, dtype=bool)
        samen[:-1] = same[1:]                  # same doc as next token
        rs = np.nonzero(bad & ~(same & pb))[0]   # run starts
        re_ = np.nonzero(bad & ~(samen & nb))[0]  # run ends (paired)
        span = ends[re_] - starts[rs]
        sel = span >= split
        run_doc = doc_of[rs[sel]]
        run_s = starts[rs[sel]]
        run_e = ends[re_[sel]]

    trim_docs = np.zeros(nd, dtype=bool)
    first_good = last_good = None
    if trim and nt:
        good_idx = np.nonzero(~bad)[0]
        gdoc = doc_of[good_idx]  # sorted (token order is doc order)
        all_d = np.arange(nd)
        lo = np.searchsorted(gdoc, all_d, side="left")
        hi = np.searchsorted(gdoc, all_d, side="right")
        has_good = hi > lo
        first_good = np.full(nd, -1, dtype=np.int64)
        last_good = np.full(nd, -1, dtype=np.int64)
        first_good[has_good] = starts[good_idx[lo[has_good]]]
        last_good[has_good] = ends[good_idx[hi[has_good] - 1]]
        trim_docs[has_good] = ((first_good[has_good] > 0)
                               | (last_good[has_good] < nlen[has_good]))

    cand = np.zeros(nd, dtype=bool)
    if run_doc.size:
        cand[run_doc] = True
    cand |= trim_docs
    for d in pii_by_doc:
        cand[d] = True
    cand &= ~gated

    scrubbed = np.zeros(nd, dtype=bool)
    child_rows: list[tuple[int, int, int]] = []
    for d in np.nonzero(cand)[0]:
        n = int(nlen[d])
        bad_ranges = list(pii_by_doc.get(d, ()))
        if run_doc.size:
            lo = np.searchsorted(run_doc, d, side="left")
            hi = np.searchsorted(run_doc, d, side="right")
            bad_ranges.extend((int(run_s[k]), int(run_e[k]))
                              for k in range(lo, hi))
        if trim and first_good is not None and first_good[d] >= 0:
            fg, lg = int(first_good[d]), int(last_good[d])
            if fg > 0:
                bad_ranges.append((0, fg))
            if n > lg:
                bad_ranges.append((lg, n))
        res = finalize_scrub(bad_ranges, n)
        if res.changed:
            scrubbed[d] = True
            child_rows.extend((int(d), s, e) for s, e in res.child_spans)
    return scrubbed, child_rows


# ---------------------------------------------------------------------------
# Language-ID gate (A2 analog: FASTA/FASTQ format detection + the
# FASTA-without-reference error, src/main.cpp:92-106).
# Character-trigram profiles (the textcat/fastText n-gram family, tiny):
# each language's profile is the TOP_K most frequent char trigrams of a
# bundled sample text, trained deterministically at first use. A document
# scores one point per language for every trigram occurrence found in
# that language's profile; argmax wins, alphabetical tiebreak, 'und' on
# zero total. Richer than marker-word lists — text with NO stopwords
# still classifies — while staying a literal table the DuckDB oracle
# mirrors exactly. fastText remains the production swap-in slot.
# ---------------------------------------------------------------------------

# self-written sample sentences (generic prose, ~250-330 chars each).
# Latin-script samples are ASCII; ru/zh/ar exercise the non-Latin path —
# char trigrams need no tokenization, so CJK (no word spaces) works with
# the same machinery (_trigram_key packs any Unicode scalar exactly:
# 21 bits per codepoint). Profiles stay literal tables the DuckDB oracle
# mirrors; fastText remains the production swap-in slot.
LANG_SAMPLES = {
    "en": ("the quick brown fox jumps over the lazy dog and then the small "
           "children walk to the old school while the morning light falls "
           "on the quiet street where people read their books and talk "
           "about the weather with their friends because the day is long "
           "and the work is done and everything in the town feels calm "
           "and simple "
           "in the early morning the market opens and people buy fresh "
           "bread and fruit before work the city wakes slowly and the "
           "trains carry workers along the river past the bridge and the "
           "tall glass buildings where meetings begin with coffee and "
           "quiet conversation about plans for the coming year "
           "the computer stores the data in small files and the program "
           "reads each line and counts the words before writing the "
           "result to a new table so that anyone can search the records "
           "and find what they need without waiting "
           "when the rain falls in autumn the leaves turn red and gold "
           "and families drive to the mountains to walk among the trees "
           "and take pictures of the valley below while the cold wind "
           "blows from the north and the first snow settles on the "
           "highest peaks "
           "she opened the old wooden door and found a room full of "
           "books some of them older than the house itself and she spent "
           "the whole afternoon reading stories about ships and distant "
           "islands until the sun went down behind the hills"),
    "de": ("der schnelle braune fuchs springt ueber den faulen hund und "
           "dann gehen die kleinen kinder zu der alten schule waehrend das "
           "morgenlicht auf die stille strasse faellt wo die leute ihre "
           "buecher lesen und mit ihren freunden ueber das wetter sprechen "
           "weil der tag lang ist und die arbeit getan ist und alles in "
           "der stadt ruhig und einfach wirkt "
           "am frühen morgen öffnet der markt und die menschen kaufen "
           "frisches brot und obst vor der arbeit die stadt erwacht "
           "langsam und die züge bringen die arbeiter über die brücke zu "
           "den hohen gebäuden aus glas wo die besprechungen mit kaffee "
           "und einem ruhigen gespräch über die pläne für das kommende "
           "jahr beginnen "
           "der computer speichert die daten in kleinen dateien und das "
           "programm liest jede zeile und zaehlt die woerter bevor es "
           "das ergebnis in eine neue tabelle schreibt damit jeder die "
           "eintraege durchsuchen und finden kann was er braucht "
           "wenn der regen im herbst faellt werden die blaetter rot und "
           "gold und die familien fahren in die berge um zwischen den "
           "baeumen zu wandern waehrend der kalte wind aus dem norden "
           "weht und der erste schnee auf den hoechsten gipfeln liegt "
           "sie oeffnete die alte tuer aus holz und fand ein zimmer "
           "voller buecher einige davon aelter als das haus selbst und "
           "sie verbrachte den ganzen nachmittag damit geschichten ueber "
           "schiffe und ferne inseln zu lesen bis die sonne hinter den "
           "huegeln unterging"),
    "es": ("el rapido zorro marron salta sobre el perro perezoso y luego "
           "los ninos pequenos caminan hacia la vieja escuela mientras la "
           "luz de la manana cae sobre la calle tranquila donde la gente "
           "lee sus libros y habla del tiempo con sus amigos porque el dia "
           "es largo y el trabajo esta hecho y todo en el pueblo se siente "
           "calmado y sencillo "
           "por la mañana temprano abre el mercado y la gente compra pan "
           "fresco y fruta antes del trabajo la ciudad despierta "
           "despacio y los trenes llevan a los trabajadores junto al rio "
           "por el puente hacia los altos edificios de cristal donde las "
           "reuniones empiezan con cafe y una charla tranquila sobre los "
           "planes para el proximo año "
           "el ordenador guarda los datos en archivos pequeños y el "
           "programa lee cada linea y cuenta las palabras antes de "
           "escribir el resultado en una tabla nueva para que cualquiera "
           "pueda buscar los registros y encontrar lo que necesita "
           "cuando llueve en otoño las hojas se vuelven rojas y doradas "
           "y las familias van a la montaña a caminar entre los arboles "
           "mientras el viento frio sopla del norte y la primera nieve "
           "cae sobre las cumbres mas altas "
           "ella abrio la vieja puerta de madera y encontro una "
           "habitacion llena de libros algunos mas antiguos que la "
           "propia casa y paso toda la tarde leyendo historias de barcos "
           "e islas lejanas hasta que el sol se puso detras de las "
           "colinas"),
    "fr": ("le rapide renard brun saute par dessus le chien paresseux et "
           "puis les petits enfants marchent vers la vieille ecole pendant "
           "que la lumiere du matin tombe sur la rue calme ou les gens "
           "lisent leurs livres et parlent du temps avec leurs amis parce "
           "que la journee est longue et le travail est fait et tout dans "
           "la ville semble calme et simple "
           "tot le matin le marche ouvre et les gens achetent du pain "
           "frais et des fruits avant le travail la ville se reveille "
           "lentement et les trains emmenent les ouvriers le long du "
           "fleuve par le pont vers les grands immeubles de verre ou les "
           "reunions commencent avec du cafe et une conversation calme "
           "sur les projets de la nouvelle annee "
           "l ordinateur garde les donnees dans de petits fichiers et le "
           "programme lit chaque ligne et compte les mots avant d ecrire "
           "le resultat dans une nouvelle table pour que chacun puisse "
           "chercher les dossiers et trouver ce qu il lui faut "
           "quand la pluie tombe en automne les feuilles deviennent "
           "rouges et dorees et les familles vont a la montagne marcher "
           "parmi les arbres pendant que le vent froid souffle du nord "
           "et que la premiere neige couvre les plus hauts sommets "
           "elle ouvrit la vieille porte en bois et trouva une piece "
           "pleine de livres certains plus anciens que la maison elle "
           "meme et elle passa tout l apres midi a lire des histoires de "
           "bateaux et d iles lointaines jusqu a ce que le soleil se "
           "couche derriere les collines"),
    "it": ("la rapida volpe marrone salta sopra il cane pigro e poi i "
           "piccoli bambini camminano verso la vecchia scuola mentre la "
           "luce del mattino cade sulla strada tranquilla dove la gente "
           "legge i suoi libri e parla del tempo con i suoi amici perche "
           "la giornata e lunga e il lavoro e finito e tutto nel paese "
           "sembra calmo e semplice "
           "la mattina presto apre il mercato e la gente compra pane "
           "fresco e frutta prima del lavoro la citta si sveglia "
           "lentamente e i treni portano i lavoratori lungo il fiume "
           "oltre il ponte verso gli alti palazzi di vetro dove le "
           "riunioni cominciano con il caffe e una conversazione "
           "tranquilla sui piani per il prossimo anno "
           "il computer conserva i dati in piccoli file e il programma "
           "legge ogni riga e conta le parole prima di scrivere il "
           "risultato in una nuova tabella cosi che chiunque possa "
           "cercare i documenti e trovare quello che gli serve "
           "quando la pioggia cade in autunno le foglie diventano rosse "
           "e dorate e le famiglie vanno in montagna a camminare tra gli "
           "alberi mentre il vento freddo soffia da nord e la prima neve "
           "copre le cime piu alte "
           "lei apri la vecchia porta di legno e trovo una stanza piena "
           "di libri alcuni piu antichi della casa stessa e passo tutto "
           "il pomeriggio a leggere storie di navi e isole lontane "
           "finche il sole non tramonto dietro le colline"),
    "pt": ("a rapida raposa marrom salta sobre o cao preguicoso e depois "
           "as criancas pequenas caminham para a velha escola enquanto a "
           "luz da manha cai sobre a rua tranquila onde as pessoas leem "
           "os seus livros e falam do tempo com os seus amigos porque o "
           "dia e longo e o trabalho esta feito e tudo na cidade parece "
           "calmo e simples "
           "de manha cedo o mercado abre e as pessoas compram pao fresco "
           "e fruta antes do trabalho a cidade acorda devagar e os "
           "comboios levam os trabalhadores ao longo do rio pela ponte "
           "ate aos altos edificios de vidro onde as reunioes comecam "
           "com cafe e uma conversa tranquila sobre os planos para o "
           "proximo ano "
           "o computador guarda os dados em ficheiros pequenos e o "
           "programa le cada linha e conta as palavras antes de escrever "
           "o resultado numa tabela nova para que qualquer pessoa possa "
           "procurar os registos e encontrar aquilo de que precisa "
           "quando a chuva cai no outono as folhas ficam vermelhas e "
           "douradas e as familias vao a montanha caminhar entre as "
           "arvores enquanto o vento frio sopra do norte e a primeira "
           "neve cobre os picos mais altos "
           "ela abriu a velha porta de madeira e encontrou um quarto "
           "cheio de livros alguns mais antigos do que a propria casa e "
           "passou a tarde inteira a ler historias de navios e ilhas "
           "distantes ate o sol se por atras das colinas"),
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку а потом "
           "маленькие дети идут в старую школу пока утренний свет падает "
           "на тихую улицу где люди читают свои книги и говорят о погоде "
           "со своими друзьями потому что день длинный и работа сделана "
           "и все в городе кажется спокойным и простым "
           "рано утром открывается рынок и люди покупают свежий хлеб и "
           "фрукты перед работой город просыпается медленно и поезда "
           "везут рабочих вдоль реки через мост к высоким стеклянным "
           "зданиям где совещания начинаются с кофе и тихого разговора "
           "о планах на будущий год "
           "компьютер хранит данные в маленьких файлах и программа "
           "читает каждую строку и считает слова прежде чем записать "
           "результат в новую таблицу чтобы каждый мог искать записи и "
           "находить то что ему нужно "
           "когда осенью идет дождь листья становятся красными и "
           "золотыми и семьи едут в горы гулять среди деревьев пока "
           "холодный ветер дует с севера и первый снег ложится на самые "
           "высокие вершины "
           "она открыла старую деревянную дверь и нашла комнату полную "
           "книг некоторые из них были старше самого дома и она провела "
           "весь вечер читая истории о кораблях и далеких островах пока "
           "солнце не село за холмы"),
    "zh": ("敏捷的棕色狐狸跳过了懒惰的狗然后小孩子们走向古老的学校清晨的"
           "阳光落在安静的街道上人们在那里读着他们的书并和朋友们谈论天气"
           "因为白天很长而工作已经完成小镇上的一切都显得平静而简单春天的"
           "风吹过田野河水慢慢流向远方老人坐在门前看着孩子们玩耍市场里的"
           "人们买菜做饭晚上的灯光照亮了每一扇窗户大家安静地休息等待新的"
           "一天开始明天的早晨还会有同样的阳光和同样的街道"
           "清晨市场开门人们在上班前买新鲜的面包和水果城市慢慢醒来火车沿"
           "着河流载着工人们穿过大桥驶向高高的玻璃大楼会议在咖啡和关于来"
           "年计划的安静谈话中开始"
           "计算机把数据保存在小文件里程序读取每一行并在把结果写入新表之"
           "前数出单词的数量这样任何人都可以搜索记录并找到自己需要的东西"
           "秋天下雨的时候树叶变成红色和金色家人们开车去山里在树林间散步"
           "拍摄下面山谷的照片寒冷的北风吹来第一场雪落在最高的山峰上"
           "她打开了那扇旧木门发现一个装满书的房间其中一些书比房子本身还"
           "要古老她花了整个下午阅读关于船只和遥远岛屿的故事直到太阳落到"
           "山丘后面"),
    "ar": ("الثعلب البني السريع يقفز فوق الكلب الكسول ثم يمشي الاطفال "
           "الصغار الى المدرسة القديمة بينما يسقط ضوء الصباح على الشارع "
           "الهادئ حيث يقرا الناس كتبهم ويتحدثون عن الطقس مع اصدقائهم "
           "لان النهار طويل والعمل قد انجز وكل شيء في المدينة يبدو "
           "هادئا وبسيطا "
           "في الصباح الباكر يفتح السوق ويشتري الناس الخبز الطازج "
           "والفاكهة قبل العمل تستيقظ المدينة ببطء وتحمل القطارات "
           "العمال على طول النهر عبر الجسر الى المباني الزجاجية "
           "العالية حيث تبدأ الاجتماعات بالقهوة وحديث هادئ عن خطط "
           "السنة القادمة "
           "يحفظ الحاسوب البيانات في ملفات صغيرة ويقرأ البرنامج كل "
           "سطر ويعد الكلمات قبل ان يكتب النتيجة في جدول جديد حتى "
           "يستطيع اي شخص البحث في السجلات وايجاد ما يحتاج اليه "
           "عندما يسقط المطر في الخريف تتحول الاوراق الى اللون الاحمر "
           "والذهبي وتذهب العائلات الى الجبال للمشي بين الاشجار بينما "
           "تهب الرياح الباردة من الشمال ويستقر الثلج الاول على اعلى "
           "القمم "
           "فتحت الباب الخشبي القديم فوجدت غرفة مليئة بالكتب بعضها "
           "اقدم من البيت نفسه وقضت المساء كله تقرأ قصصا عن السفن "
           "والجزر البعيدة حتى غربت الشمس خلف التلال"),
    "ja": ("すばやい茶色のきつねはなまけものの犬をとびこえてそれから小さな"
           "子どもたちは古い学校へあるいていきます朝のひかりはしずかな通り"
           "におちて人びとはそこで本をよみ友だちと天気についてはなします"
           "一日はながくしごとはおわり町のすべてはおだやかでかんたんに"
           "みえます春のかぜが野をわたり川の水はゆっくりとながれて老人は"
           "門のまえにすわって子どもたちのあそぶのをみています"
           "朝はやく市場がひらき人びとはしごとの前にあたらしいパンとくだ"
           "ものを買います町はゆっくりと目をさまし電車は川にそって橋をわ"
           "たり高いガラスの建物へはたらく人をはこびますそこでは会議がコ"
           "ーヒーと来年の計画についてのしずかな話ではじまります"
           "コンピュータはデータを小さなファイルにほぞんしプログラムは一"
           "行ずつよんで単語をかぞえ結果をあたらしい表に書きますそうすれ"
           "ばだれでも記録をさがして必要なものを見つけることができます"
           "秋に雨がふると木の葉は赤と金色にかわり家族は山へ行って木のあ"
           "いだをあるき谷の写真をとりますつめたい北風がふき一番高い峰に"
           "はじめての雪がつもります"
           "彼女は古い木のとびらをあけると本でいっぱいのへやを見つけまし"
           "たその中には家よりも古い本もあり彼女は船と遠い島の物語を日が"
           "しずむまで読みつづけました"),
    "ko": ("빠른 갈색 여우가 게으른 개를 뛰어넘고 그 다음 어린 아이들은 "
           "오래된 학교로 걸어갑니다 아침 햇살이 조용한 거리에 내리고 "
           "사람들은 그곳에서 책을 읽으며 친구들과 날씨에 대해 이야기합니다 "
           "하루는 길고 일은 끝났으며 마을의 모든 것이 평온하고 단순해 "
           "보입니다 봄바람이 들판을 지나고 강물은 천천히 흘러갑니다 "
           "이른 아침 시장이 열리고 사람들은 일하러 가기 전에 신선한 "
           "빵과 과일을 삽니다 도시는 천천히 깨어나고 기차는 강을 따라 "
           "다리를 건너 높은 유리 건물로 일하는 사람들을 실어 나릅니다 "
           "그곳에서 회의는 커피와 내년 계획에 대한 조용한 대화로 "
           "시작됩니다 "
           "컴퓨터는 데이터를 작은 파일에 저장하고 프로그램은 각 줄을 "
           "읽고 단어를 센 다음 결과를 새 표에 씁니다 그래서 누구나 "
           "기록을 검색하고 필요한 것을 찾을 수 있습니다 "
           "가을에 비가 내리면 나뭇잎은 빨갛고 금빛으로 변하고 "
           "가족들은 산으로 가서 나무 사이를 걷고 아래 계곡의 사진을 "
           "찍습니다 차가운 북풍이 불고 가장 높은 봉우리에 첫눈이 "
           "쌓입니다 "
           "그녀는 낡은 나무 문을 열고 책으로 가득한 방을 발견했습니다 "
           "그중 일부는 집보다 오래된 것이었고 그녀는 해가 언덕 뒤로 질 "
           "때까지 배와 먼 섬 이야기를 읽으며 오후를 보냈습니다"),
    "hi": ("तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर से कूदती है और फिर छोटे "
           "बच्चे पुराने स्कूल की ओर चलते हैं जबकि सुबह की रोशनी शांत "
           "गली पर गिरती है जहाँ लोग अपनी किताबें पढ़ते हैं और अपने "
           "दोस्तों के साथ मौसम के बारे में बात करते हैं क्योंकि दिन लंबा "
           "है और काम पूरा हो गया है और कस्बे में सब कुछ शांत और सरल "
           "लगता है "
           "सुबह जल्दी बाजार खुलता है और लोग काम से पहले ताजा रोटी और "
           "फल खरीदते हैं शहर धीरे धीरे जागता है और रेलगाड़ियाँ नदी के "
           "किनारे पुल के पार ऊँची काँच की इमारतों तक मजदूरों को ले "
           "जाती हैं जहाँ बैठकें कॉफी और अगले साल की योजनाओं पर शांत "
           "बातचीत के साथ शुरू होती हैं "
           "कंप्यूटर आँकड़ों को छोटी फाइलों में रखता है और प्रोग्राम हर "
           "पंक्ति पढ़ता है और शब्द गिनता है फिर नतीजा एक नई तालिका में "
           "लिखता है ताकि कोई भी अभिलेख खोज सके और जो चाहिए वह पा सके "
           "जब पतझड़ में बारिश होती है तो पत्ते लाल और सुनहरे हो जाते "
           "हैं और परिवार पहाड़ों पर जाकर पेड़ों के बीच घूमते हैं जबकि "
           "ठंडी हवा उत्तर से चलती है और पहली बर्फ सबसे ऊँची चोटियों पर "
           "गिरती है "
           "उसने पुराना लकड़ी का दरवाजा खोला और किताबों से भरा एक कमरा "
           "पाया उनमें से कुछ किताबें घर से भी पुरानी थीं और उसने सूरज "
           "के पहाड़ियों के पीछे डूबने तक जहाजों और दूर के द्वीपों की "
           "कहानियाँ पढ़ीं"),
}

TRIGRAM_TOP_K = 200

_TRIGRAM_PROFILES = None


def trigram_profiles() -> dict[str, tuple[str, ...]]:
    """lang -> its TOP_K trigrams (count desc, trigram asc — fully
    deterministic), trained once from LANG_SAMPLES."""
    global _TRIGRAM_PROFILES
    if _TRIGRAM_PROFILES is None:
        prof = {}
        for lang, sample in LANG_SAMPLES.items():
            s = sample.lower()
            counts: dict[str, int] = {}
            for i in range(len(s) - 2):
                tg = s[i:i + 3]
                counts[tg] = counts.get(tg, 0) + 1
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            prof[lang] = tuple(tg for tg, _ in top[:TRIGRAM_TOP_K])
        _TRIGRAM_PROFILES = prof
    return _TRIGRAM_PROFILES


def predict_lang(text: str) -> tuple[str, float]:
    """(lang_pred, confidence) for one text — scalar wrapper over the
    batch trigram scorer."""
    pred, conf = flat_predict_lang_texts([text])
    return str(pred[0]), float(conf[0])


# ---------------------------------------------------------------------------
# Bigram language-model quality (the KenLM-style perplexity slot of the
# north_star; the reference's per-base Phred signal reborn as per-token
# model probability). Deterministic, integer-count-exact, mirrored by the
# Catalyst/SQL implementations.
# ---------------------------------------------------------------------------

BACKOFF = 0.4           # Katz-style unigram backoff weight
LM_THRESHOLD = 0.01     # token painted good iff p(tok|prev) >= threshold


def build_bigram_lm(docs_tokens: list[list[str]]):
    """(bigram_counts, unigram_counts, total_tokens) from a corpus."""
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    total = 0
    for toks in docs_tokens:
        for i, t in enumerate(toks):
            c1[t] = c1.get(t, 0) + 1
            total += 1
            if i > 0:
                key = (toks[i - 1], t)
                c2[key] = c2.get(key, 0) + 1
    return c2, c1, total


def bigram_prob(prev: str | None, tok: str, c2, c1, total: int) -> float:
    """p(tok|prev) with unigram backoff; first token (prev=None) uses the
    unigram probability. All ratios of exact integer counts."""
    if prev is not None:
        pair = c2.get((prev, tok), 0)
        if pair > 0:
            return pair / c1[prev]
    uni = c1.get(tok, 0)
    if uni > 0:
        p = uni / total
        return p if prev is None else BACKOFF * p
    return 1.0 / (10.0 * total)


def bigram_quality(tokens: list[str], c2, c1, total: int,
                   threshold: float = LM_THRESHOLD) -> np.ndarray:
    """Per-token 0/1 painting: good iff model probability >= threshold
    (the LM rendering of k-mer painting; feeds the same mean/window/scrub
    machinery)."""
    n = len(tokens)
    q = np.zeros(n, dtype=np.float64)
    prev = None
    for i, t in enumerate(tokens):
        if bigram_prob(prev, t, c2, c1, total) >= threshold:
            q[i] = 1.0
        prev = t
    return q


def doc_perplexity(tokens: list[str], c2, c1, total: int) -> float:
    """exp(-mean log p) over the token stream (documentation metric)."""
    if not tokens:
        return float("inf")
    s = 0.0
    prev = None
    for t in tokens:
        s += math.log(bigram_prob(prev, t, c2, c1, total))
        prev = t
    return math.exp(-s / len(tokens))


# ---------------------------------------------------------------------------
# PII / toxicity scrub spans (north_rule: compiled-regex scrubber).
# An additional bad-span source feeding the same trim/split machinery —
# unlike quality runs, a PII span is ALWAYS removed (no length threshold).
# ---------------------------------------------------------------------------

PII_PATTERNS = [
    # email
    re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    # US-style phone
    re.compile(r"(?:\+?\d{1,2}[ -])?(?:\(\d{3}\)|\d{3})[ -]\d{3}[ -]\d{4}"),
    # SSN-like
    re.compile(r"\b\d{3}-\d{2}-\d{4}\b"),
]
# placeholder toxicity lexicon (swap for a real one in production)
TOXIC_RE = re.compile(r"\b(?:frobnak|grubbix|zlorty)\b")

# cheap NECESSARY conditions per pattern family (C-speed substring/class
# scans): every PII_PATTERNS email needs '@', phone/SSN need a digit, the
# toxicity lexicon needs one of its literals. Docs passing the prefilter
# get the exact per-pattern pii_spans pass; a full-alternation regex
# prefilter was measured 10x slower (backtracking at every position).
# KEEP IN SYNC with PII_PATTERNS / TOXIC_RE.
_DIGIT_RE = re.compile(r"\d")
_TOXIC_WORDS = ("frobnak", "grubbix", "zlorty")


def pii_possible(text: str) -> bool:
    return ("@" in text or _DIGIT_RE.search(text) is not None
            or any(w in text for w in _TOXIC_WORDS))


def pii_spans(text: str) -> list[tuple[int, int]]:
    """Char spans matched by any PII/toxicity pattern, sorted+merged."""
    spans = []
    for pat in PII_PATTERNS:
        spans.extend(m.span() for m in pat.finditer(text))
    spans.extend(m.span() for m in TOXIC_RE.finditer(text))
    if not spans:
        return []
    spans.sort()
    merged = [spans[0]]
    for s, e in spans[1:]:
        if s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged
