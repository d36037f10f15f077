"""Job configuration — mirror of the reference's ``Arguments``.

Reference: src/arguments.h:50-92 (typed scalars + ``*_set`` booleans),
src/arguments.cpp:53-93 (unit-suffix parsing, C7),
src/arguments.cpp:298-394 (validation predicates, D2).
Validation messages mirror test/test_error_messages.py:55-189.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SUFFIX_MULTIPLIERS = {
    "k": 1_000, "kb": 1_000,
    "m": 1_000_000, "mb": 1_000_000,
    "g": 1_000_000_000, "gb": 1_000_000_000,
}


class ConfigError(ValueError):
    """Config validation failure (reference exits with an 'Error: ...')."""


def parse_int_with_suffix(value: str | int | float) -> int:
    """Parse '3.5k' -> 3500 etc. Semantics of
    IntegerWithSuffixReader::parse_int_with_suffix (src/arguments.cpp:53-93):
    case-insensitive k/kb/m/mb/g/gb, decimals allowed, result truncated
    toward zero (C++ static_cast<long long>)."""
    if isinstance(value, (int, float)):
        return int(value)
    if value == "":
        raise ConfigError("Empty value")
    lower = value.lower()
    start = 1 if value.startswith("-") else 0
    m = re.search(r"[^0-9.]", lower[start:])
    if m is None:
        # no suffix: stod then truncate
        return int(float(value))
    pos = start + m.start()
    numeric, suffix = value[:pos], lower[pos:]
    if numeric in ("", "-"):
        raise ConfigError("No numeric value before suffix")
    if suffix not in _SUFFIX_MULTIPLIERS:
        raise ConfigError(f"Unknown suffix: {suffix}")
    return int(float(numeric) * _SUFFIX_MULTIPLIERS[suffix])


@dataclass
class FilterConfig:
    """All knobs of the pipeline. Field-for-field analog of Arguments
    (src/arguments.h:50-92), domain-translated: bases -> chars,
    reads -> documents, k-mer reference -> accepted-token reference corpus.
    """

    # hard thresholds (D1, src/arguments.cpp:161-172) — on raw metrics
    min_length: int | None = None          # chars
    max_length: int | None = None          # chars
    min_mean_q: float | None = None        # 0..100
    min_window_q: float | None = None      # 0..100

    # budget (F1, src/main.cpp:228-237)
    target_chars: int | None = None        # <- --target_bases
    keep_percent: float | None = None      # (0, 100)

    # scoring weights (C6, src/arguments.cpp:188-196)
    length_weight: float = 1.0
    mean_q_weight: float = 1.0
    window_q_weight: float = 1.0

    # window quality (C4, src/arguments.cpp:209-211); tokens per window
    window_size: int = 250

    # scrub (G1-G6, src/read.cpp:75-143)
    trim: bool = False
    split: int | None = None               # min bad-run char length
    # PII/toxicity regex scrub (north_rule): spans are ALWAYS removed
    pii_scrub: bool = False

    # quality-signal source: 'intrinsic' (fixed vocabulary <- Phred mode),
    # 'refset' (accepted set built from a reference corpus <- k-mer mode),
    # or 'bigram_lm' (corpus bigram model, KenLM-style perplexity slot)
    mode: str = "intrinsic"
    vocab: frozenset[str] = field(default_factory=frozenset)
    required_copies: int = 4               # refset count threshold (src/kmers.cpp:41)
    lm_threshold: float = 0.01             # bigram_lm: good iff p >= this

    # langid gate (A2 analog)
    langid_enabled: bool = False
    langid_expected: str | None = None     # quarantine docs whose pred != this

    # budget algorithm: 'approx' (score-histogram threshold + boundary-
    # bucket refinement — the 100 TB path and the DEFAULT; proven identical
    # to 'exact' by tests/test_pipeline_spark.test_approx_budget_equals_exact)
    # or 'exact' (one global window cumsum — a single task sorts every
    # candidate row; keep as the opt-in correctness oracle only)
    budget_algorithm: str = "approx"

    # survivor output ordering: 'global' (one total orderBy — the literal
    # stdout contract) or 'partitioned' (range-partition + sort within
    # partitions — same content, no global sort; the 100 TB sink shape)
    output_ordering: str = "global"

    # dedup ingested pages on the CANONICAL url (functions/weburl.py):
    # http/https, tracking-param and fragment variants of one page
    # collapse to a single scored document
    canonical_url_dedup: bool = False

    # NEAR-duplicate dedup stage (None | 'simhash' | 'minhash'): after
    # ingest (and line-dedup, if on) and BEFORE scoring, banded-LSH
    # candidate pairs -> connected components -> every non-survivor is
    # quarantined with reason 'near_duplicate_<method>' and never scored.
    # 'simhash' = 60-bit fingerprint bands (operators/dedup.simhash_pairs,
    # hamming <= 3); 'minhash' = 4x2 minhash bands over 3-shingles
    # (lsh_candidate_pairs). Both are capped banded equi-joins — never
    # all-pairs.
    near_dup_dedup: str | None = None

    # LINE-level boilerplate dedup (CCNet/RefinedWeb grain): lines
    # occurring in >= this many distinct documents are removed from every
    # document before scoring (operators/dedup.line_dedup); the cleaned
    # text is also what survivors emit. None = off; must be >= 2.
    line_dedup_min_df: int | None = None

    # UT1-style deny-list gate (operators/partitioning.blocklist_gate),
    # run at ingest before any dedup/scoring: docs whose url host is in
    # blocklist_hosts OR whose text contains a blocklist_words entry
    # (lower-cased substring) are quarantined with reason 'blocklisted'.
    # Empty tuples = stage off. At UT1 scale pass the host list via a
    # DataFrame to run_filter's blocklist_hosts_df instead (broadcast or
    # bucketed probe); these config tuples are for list sizes a config
    # object can reasonably carry.
    blocklist_hosts: tuple = ()
    blocklist_words: tuple = ()

    # model-based quality gate (operators/classifier.quality_classifier,
    # the DCLM/fastText-classifier slot), run AFTER dedup and BEFORE
    # scoring: docs whose linear logit falls below this threshold are
    # quarantined with reason 'classifier_rejected'. None = stage off.
    # clf_weights: optional 6-tuple (bias + the 5 FEATURES coefficients,
    # e.g. from classifier.fit_weights run offline); empty = the
    # checked-in DEFAULT_WEIGHTS.
    clf_threshold: float | None = None
    clf_weights: tuple = ()

    # bigram_lm distributed path: bigram/unigram entries with corpus count
    # below this are pruned from the model tables before the quality join
    # (bounds the broadcast side at web scale; 1 = exact/no pruning)
    lm_min_count: int = 1

    # bigram_lm physical strategy: 'auto' (pick by the pruned model's
    # entry count — operators/lm.choose_strategy), 'distributed' (no
    # model collect, the 100 TB path: the corpus's distinct bigram
    # verdicts broadcast into one fused scorer while they fit
    # lm.LM_VERDICT_MAX_KEYS, else token-grain Catalyst joins
    # against the count tables) or 'broadcast' (whole pruned model as a
    # broadcast variable — exact even for mid-token PII fragments,
    # requires a driver-sized model)
    lm_strategy: str = "auto"

    def __post_init__(self) -> None:
        for f in ("min_length", "max_length", "target_chars", "split"):
            v = getattr(self, f)
            if isinstance(v, str):
                setattr(self, f, parse_int_with_suffix(v))

    # -- validation (D2, src/arguments.cpp:298-394) ------------------------
    def validate(self) -> "FilterConfig":
        any_threshold = any(v is not None for v in (
            self.min_length, self.max_length, self.min_mean_q,
            self.min_window_q, self.target_chars, self.keep_percent,
        )) or self.trim or self.split is not None or self.pii_scrub \
            or self.langid_enabled or self.near_dup_dedup is not None \
            or self.line_dedup_min_df is not None \
            or bool(self.blocklist_hosts) or bool(self.blocklist_words) \
            or self.clf_threshold is not None
        if not any_threshold:
            raise ConfigError(
                "Error: no thresholds set, you must use at least one of the "
                "following options: --min_length, --max_length, --min_mean_q, "
                "--min_window_q, --target_bases, --keep_percent, --trim, --split")
        if self.target_chars is not None and self.target_chars <= 0:
            raise ConfigError("Error: the value for --target_bases must be a positive integer")
        if self.keep_percent is not None and not (0.0 < self.keep_percent < 100.0):
            raise ConfigError("Error: the value for --keep_percent must be greater than 0 and less than 100")
        if self.min_length is not None and self.min_length <= 0:
            raise ConfigError("Error: the value for --min_length must be a positive integer")
        if self.max_length is not None and self.max_length <= 0:
            raise ConfigError("Error: the value for --max_length must be a positive integer")
        if self.min_mean_q is not None and self.min_mean_q <= 0:
            raise ConfigError("Error: the value for --min_mean_q must be a positive value")
        if self.min_window_q is not None and self.min_window_q <= 0:
            raise ConfigError("Error: the value for --min_window_q must be a positive value")
        if self.split is not None and self.split <= 0:
            raise ConfigError("Error: the value for --split must be a positive integer")
        if self.window_size <= 0:
            raise ConfigError("Error: the value for --window_size must be a positive integer")
        for name, w in (("--length_weight", self.length_weight),
                        ("--mean_q_weight", self.mean_q_weight),
                        ("--window_q_weight", self.window_q_weight)):
            if w < 0:
                raise ConfigError(f"Error: the value for {name} must be a positive value")
        if (self.trim or self.split is not None) \
                and self.mode == "intrinsic" and not self.vocab:
            # reference: --trim/--split require an external reference
            # (src/arguments.cpp:298-308); web analog: scrub requires a
            # quality signal (vocabulary, reference corpus, or LM)
            raise ConfigError(
                "Error: --trim and --split require a reference corpus or vocabulary")
        if self.mode not in ("intrinsic", "refset", "bigram_lm"):
            raise ConfigError(f"Error: unknown mode {self.mode!r}")
        if self.budget_algorithm not in ("exact", "approx"):
            raise ConfigError(f"Error: unknown budget_algorithm {self.budget_algorithm!r}")
        if self.clf_weights and len(self.clf_weights) != 6:
            raise ConfigError(
                "Error: clf_weights must be 6 values (bias + 5 feature "
                "coefficients in classifier.FEATURES order)")
        if self.clf_threshold is not None and not self.vocab:
            raise ConfigError(
                "Error: the classifier gate requires a vocabulary "
                "(its vocab_frac feature)")
        if self.output_ordering not in ("global", "partitioned"):
            raise ConfigError(f"Error: unknown output_ordering {self.output_ordering!r}")
        if self.lm_min_count < 1:
            raise ConfigError("Error: the value for lm_min_count must be a positive integer")
        if self.lm_strategy not in ("auto", "distributed", "broadcast"):
            raise ConfigError(f"Error: unknown lm_strategy {self.lm_strategy!r}")
        if self.near_dup_dedup not in (None, "simhash", "minhash"):
            raise ConfigError(
                f"Error: unknown near_dup_dedup {self.near_dup_dedup!r} "
                "(choose 'simhash' or 'minhash')")
        if self.line_dedup_min_df is not None and self.line_dedup_min_df < 2:
            raise ConfigError(
                "Error: the value for line_dedup_min_df must be at least 2 "
                "(1 would remove every non-blank line)")
        return self
