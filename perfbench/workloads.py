"""The benchmark's workloads: input, filter configuration and why each
exists. Every workload runs the same iteration: a fresh ``run_filter``
into its own checkpoint directory with the survivors written to parquet,
then a second ``run_filter`` that resumes from the snapshot the fresh leg
committed, again through the survivor write."""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable

from filtlong_spark import FilterConfig
from filtlong_spark import fixtures as fx

import inputs


def north_rule_stack(**kw) -> FilterConfig:
    """The north_rule stage stack of ``bench.full_stack_cfg()``: langid
    gate, intrinsic quality, hard rules, PII scrub, trim/split and a
    percentile keep budget, with range-partitioned output ordering."""
    base = dict(min_length=100, keep_percent=80.0, trim=True, split=40,
                pii_scrub=True, langid_enabled=True, langid_expected="en",
                window_size=50, mode="intrinsic", vocab=frozenset(fx.VOCAB),
                budget_algorithm="approx", output_ordering="partitioned")
    base.update(kw)
    return FilterConfig(**base)


def lm_stack() -> FilterConfig:
    """``bench.lm_stack_cfg()``: the same stack scored by the bigram LM on
    its distributed path (token-grain joins, collect_list reassembly)."""
    return replace(north_rule_stack(), mode="bigram_lm", vocab=frozenset(),
                   lm_strategy="distributed")


def gated_stack() -> FilterConfig:
    """The north_rule stack with every gate of ``run_filter`` on. The
    classifier weights reject a page iff more than 5% of its characters
    are symbols (logit = 1 - 20 * symbol_ratio)."""
    return north_rule_stack(
        vocab=inputs.VOCAB, canonical_url_dedup=True,
        blocklist_hosts=inputs.BLOCKLIST, line_dedup_min_df=20,
        near_dup_dedup="minhash", clf_threshold=0.0,
        clf_weights=(1.0, 0.0, 0.0, 0.0, -20.0, 0.0))


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    input_kind: str                   # inputs.materialize kind
    docs: int                         # timed input size
    oracle: bool                      # warm-up checked against oracle.py
    config: Callable[[], FilterConfig]
    self_reference: bool = False      # input is its own LM reference

    def ref_pages(self, pages):
        return pages if self.self_reference else None


WORKLOADS = {w.name: w for w in (
    Workload(
        "web_intrinsic",
        "fused Arrow scorer (operators.score, functions.scoring) does most "
        "of the work; operators.lm and every gate do none",
        "web", docs=8_000, oracle=True, config=north_rule_stack),
    Workload(
        "web_lm",
        "bigram LM token exchange and collect_list reassembly "
        "(operators.lm) dominate; the intrinsic scorer does nothing",
        "web", docs=1_500, oracle=True, config=lm_stack,
        self_reference=True),
    Workload(
        "web_gated",
        "only workload where ingest quarantine and the blocklist, line-"
        "dedup, near-dup and classifier gates with their checkpoints work",
        "gated", docs=1_500, oracle=False, config=gated_stack),
)}
