"""Seeded benchmark inputs in the pipeline's page shape.

Two generators, both pure functions of ``(n_docs, seed)``:

- ``web_pages``: the repo's fixture volume generator
  (``filtlong_spark.fixtures.volume``): fixture-vocabulary tokens with
  Beta-distributed bad-token shares, Poisson bad runs and Zipf hosts.
  The intrinsic scorer and the bigram LM are built for it.
- ``gated_pages``: multi-line English-like pages over a Zipf vocabulary,
  with shared boilerplate lines and planted rows that each gate of
  ``run_filter`` must drop: empty texts, duplicate URLs, http/https and
  tracking-parameter URL variants, near-copies, symbol spam, German
  pages and pages on two Zipf-top blocklisted hosts. The fixture volume
  generator cannot drive the near-dup gate: with its 12-word vocabulary
  almost every pair of pages collides in the minhash bands.

Inputs are written once per (workload, seed, size) as parquet under the
benchmark's work directory and reused by later runs.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from filtlong_spark import core
from filtlong_spark import fixtures as fx

N_FILES = 4  # parquet files per input: one scan split per local core

# --- gated_pages vocabulary (fixed; the seed only picks documents) -------

# head: the English langid sample's words, most frequent first, so the
# Zipf head is real English ("the", "and", "of", ...)
_EN_COUNTS = Counter(core.LANG_SAMPLES["en"].split())
HEAD = sorted(_EN_COUNTS, key=lambda w: (-_EN_COUNTS[w], w))


def _pseudo_words(n: int) -> list[str]:
    """n distinct English-looking letter words (the long Zipf tail)."""
    rng = np.random.default_rng(20_251_016)
    onset = ["b", "br", "c", "cl", "d", "f", "fr", "g", "gr", "h", "l", "m",
             "n", "p", "pl", "r", "s", "st", "t", "tr", "w"]
    vowel = ["a", "e", "i", "o", "u", "ea", "ou"]
    coda = ["", "n", "r", "s", "t", "nd", "st", "ng", "ck", "ll"]
    out, seen = [], set(HEAD)
    while len(out) < n:
        w = "".join(onset[rng.integers(len(onset))]
                    + vowel[rng.integers(len(vowel))]
                    + coda[rng.integers(len(coda))]
                    for _ in range(int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


WORDS = HEAD + _pseudo_words(20_000)
# Zipf-Mandelbrot ranks: the offset flattens the head so that two
# unrelated pages share almost no word 3-shingles (the near-dup gate's
# minhash bands then pair only planted near-copies)
_ZIPF_P = 1.0 / (np.arange(1, len(WORDS) + 1) + 10.0)
_ZIPF_P /= _ZIPF_P.sum()
# the scorer's and the classifier's vocabulary: the head and the first
# 10,000 tail words; the rest of the tail (~9% of tokens) scores bad
VOCAB = frozenset(WORDS[:len(HEAD) + 10_000])

BOILERPLATE = (
    "home news sport weather culture travel contact",
    "skip to main content menu search sign in",
    "we use cookies to give you the best experience on our site",
    "subscribe to our newsletter for the latest updates",
    "share this page on social media",
    "copyright all rights reserved privacy policy terms of use",
    "related articles you may also like",
    "back to top",
)
SPAM_TOKENS = ("$$$", "!!!", ">>>", "###", "***", "%%%", "@@@", "+++")
GERMAN = (
    "der die das und ist nicht mit sich auf fuer eine werden kinder stadt "
    "gehen morgen ruhige strasse leute buecher lesen ihren freunden ueber "
    "wetter sprechen weil tag lang arbeit getan alles einfach wirkt markt "
    "menschen kaufen frisches brot obst erwacht langsam bringen arbeiter "
    "hohen gebaeuden glas besprechungen kaffee einem ruhigen gespraech"
).split()

N_HOSTS = 300
_HOST_P = 1.0 / np.arange(1, N_HOSTS + 1) ** 1.1
_HOST_P /= _HOST_P.sum()
BLOCKED_RANKS = (2, 6)  # Zipf-top hosts on the blocklist


def host_name(rank: int) -> str:
    return f"www.site{rank}.example.org"


BLOCKLIST = tuple(host_name(r) for r in BLOCKED_RANKS)

# planted shares of gated_pages rows (the remaining rows are originals)
PLANTED = {
    "empty_text": 0.015,        # ingest quarantine
    "duplicate_url": 0.015,     # same URL again -> canonical dedup
    "url_variant": 0.03,        # http / utm_* / #fragment re-crawl
    "near_copy": 0.05,          # ~3% of tokens changed, new URL
    "spam": 0.04,               # symbol soup -> classifier
    "german": 0.03,             # langid gate
}


def _zipf_tokens(rng: np.random.Generator, n: int) -> list[str]:
    return [WORDS[i] for i in rng.choice(len(WORDS), size=n, p=_ZIPF_P)]


def _lines(tokens: list[str], rng: np.random.Generator) -> list[str]:
    out, i = [], 0
    while i < len(tokens):
        k = int(rng.integers(6, 15))
        out.append(" ".join(tokens[i:i + k]))
        i += k
    return out


def _original(rng: np.random.Generator) -> list[str]:
    n_tokens = int(np.clip(rng.lognormal(np.log(220), 0.5), 40, 2000))
    return _lines(_zipf_tokens(rng, n_tokens), rng)


def _with_boilerplate(lines: list[str], rng: np.random.Generator) -> str:
    head = [BOILERPLATE[rng.integers(0, 2)]] if rng.random() < 0.6 else []
    foot = [BOILERPLATE[rng.integers(2, len(BOILERPLATE))]] \
        if rng.random() < 0.7 else []
    return "\n".join(head + lines + foot)


def _near_copy(lines: list[str], rng: np.random.Generator) -> list[str]:
    out = []
    for line in lines:
        toks = line.split(" ")
        for j in range(len(toks)):
            if rng.random() < 0.03:
                toks[j] = WORDS[int(rng.choice(len(WORDS), p=_ZIPF_P))]
        out.append(" ".join(toks))
    return out


def _variant(url: str, rng: np.random.Generator) -> str:
    kind = int(rng.integers(3))
    if kind == 0:
        return "http://" + url[len("https://"):]
    if kind == 1:
        return url + "?utm_source=newsletter&utm_medium=email"
    return url + "#comments"


def gated_pages(n_docs: int, seed: int) -> tuple[dict, dict]:
    """(columns, truth): page columns in the pipeline's input shape and the
    planted ground truth (per-kind row counts, near-copy families)."""
    rng = np.random.default_rng([seed, 7])
    kinds = list(PLANTED) + ["original"]
    p_kind = np.array([PLANTED[k] for k in kinds[:-1]] + [0.0])
    p_kind[-1] = 1.0 - p_kind.sum()
    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    originals: list[int] = []          # row ids of English originals
    body: dict[int, list[str]] = {}    # original row id -> content lines
    family: dict[str, int] = {}        # near-copy family per url
    counts = Counter()
    for i in range(n_docs):
        # the first rows are originals, so every derived row has a source
        kind = kinds[rng.choice(len(kinds), p=p_kind)] if i >= 20 \
            else "original"
        host = host_name(int(rng.choice(N_HOSTS, p=_HOST_P)) + 1)
        url = f"https://{host}/article/{seed}-{i}"
        if kind == "original":
            lines = _original(rng)
            body[i] = lines
            originals.append(i)
            text = _with_boilerplate(lines, rng)
        elif kind == "empty_text":
            text = ""
        elif kind in ("duplicate_url", "url_variant"):
            j = originals[int(rng.integers(len(originals)))]
            url = cols["url"][j] if kind == "duplicate_url" \
                else _variant(cols["url"][j], rng)
            text = cols["text"][j]
        elif kind == "near_copy":
            j = originals[int(rng.integers(len(originals)))]
            family[url] = family.setdefault(cols["url"][j], j)
            text = _with_boilerplate(_near_copy(body[j], rng), rng)
        elif kind == "spam":
            # words glued to symbol runs: a high symbol share, but no
            # shingles shared with other spam pages
            n = int(rng.integers(60, 300))
            text = "\n".join(_lines(
                [w + SPAM_TOKENS[k] for w, k in zip(
                    _zipf_tokens(rng, n),
                    rng.integers(0, len(SPAM_TOKENS), n))], rng))
        else:  # german
            n = int(rng.integers(80, 400))
            text = "\n".join(_lines(
                [GERMAN[k] for k in rng.integers(0, len(GERMAN), n)], rng))
        counts[kind] += 1
        cols["url"].append(url)
        cols["warc_ts"].append(fx.BASE_TS + timedelta(seconds=i))
        cols["html"].append(b"")
        cols["text"].append(text)
        cols["lang"].append("en")
    hosts = Counter(u.split("/")[2] for u in cols["url"])
    truth = {"rows": n_docs, "planted": dict(counts),
             "blocklisted_host_rows": sum(hosts[h] for h in BLOCKLIST),
             "near_copy_family": family}
    return cols, truth


def web_pages(n_docs: int, seed: int) -> dict:
    sf = n_docs / 1_000_000
    rows = fx.volume(sf, seed=seed)
    assert len(rows) == n_docs, (len(rows), n_docs)
    return {c: [r[c] for r in rows] for c in ("url", "warc_ts", "html",
                                              "text", "lang")}


_SCHEMA = pa.schema([("url", pa.string()),
                     ("warc_ts", pa.timestamp("us", tz="UTC")),
                     ("html", pa.binary()), ("text", pa.string()),
                     ("lang", pa.string())])


def _write(cols: dict, path: str) -> None:
    """Write rows in input order, split into N_FILES contiguous files."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = pa.table(cols, schema=_SCHEMA)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.replace(tmp, path)


def materialize(root: str, kind: str, n_docs: int, seed: int) -> dict:
    """Generate (once) and return {"path", "docs", "truth"} for an input."""
    path = os.path.join(root, f"{kind}-n{n_docs}-s{seed}")
    meta = path + ".json"
    if not os.path.exists(meta):
        if kind == "gated":
            cols, truth = gated_pages(n_docs, seed)
        else:
            cols, truth = web_pages(n_docs, seed), {"rows": n_docs}
        _write(cols, path)
        with open(meta, "w") as f:
            json.dump(truth, f)
    with open(meta) as f:
        truth = json.load(f)
    return {"path": path, "docs": n_docs, "truth": truth}


def read_rows(path: str, limit: int) -> list[dict]:
    """The first ``limit`` input rows, as fixture-style dicts (for the
    oracle check)."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    rows: list[dict] = []
    for f in files:
        rows += pq.read_table(os.path.join(path, f)).to_pylist()
        if len(rows) >= limit:
            break
    return rows[:limit]
