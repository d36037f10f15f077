"""Deterministic fixture + volume generators in the ``input_hint`` shape.

Schema (BASELINE.json input_hint):
    pages(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Ports the reference's fixture *designs* (FIXTURES.md; reference test/
test_sort.txt, test_trim.txt, test_split.txt) to web documents. All
generation is seeded/deterministic.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

# Intrinsic "good" vocabulary (the web analog of valid high-quality Phred
# bases). 4-char words make exact char-count construction easy.
VOCAB = frozenset({
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "big", "slow",
    "value", "query", "column", "agg", "line", "data", "group", "row",
    "customer", "vector", "a", "spark", "filter",
    # English langid markers (so generated volumes pass the langid gate)
    "of", "and", "is",
})
# 4-char vocab words used as filler; deliberately excludes the two words
# held out of the reference corpus (FAM_C) so planted token percentages
# are exact in both quality modes
GOOD4 = ["sort", "part", "join", "hash", "line", "fast", "data"]

# Token families for the ranking-inversion design (FIXTURES.md F1):
#   A: in the reference corpus but NOT in VOCAB (intrinsic-bad, ref-good)
#   B: in neither (bad both ways)
#   C: in VOCAB but NOT in the reference corpus (intrinsic-good, ref-bad)
FAM_A = ["refa", "refb", "refc", "refd"]
FAM_B = ["zqxv", "qzzk", "xvvq", "kqzx"]
FAM_C = ["slow", "scan"]  # vocab words excluded from the reference corpus
REF_EXCLUDED = frozenset(FAM_C)


def _row(url: str, text: str, lang: str = "en", idx: int = 0) -> dict:
    return {
        "url": url,
        "warc_ts": BASE_TS + timedelta(seconds=idx),
        "html": ("<html><body>" + text + "</body></html>").encode("utf-8"),
        "text": text,
        "lang": lang,
    }


# final-token fill by n_chars % 5: all choices are vocab words (and in the
# reference corpus), so filler text is 100% good in both quality modes
_TAIL_BY_MOD = {0: "order", 1: "window", 2: "the key", 3: "key", 4: "data"}


def _fill_text(n_chars: int, picks: list[str], rng: np.random.Generator) -> str:
    """Deterministic all-good text of EXACTLY n_chars: (m-1) 4-char vocab
    tokens + a final vocab token sized to land exactly on n_chars.

    ``picks`` (must be 4-char tokens) are planted at deterministic evenly
    spaced positions.
    """
    tail = _TAIL_BY_MOD[n_chars % 5]
    m1 = (n_chars - len(tail)) // 5  # number of leading 4-char units
    assert m1 >= max(1, len(picks)), (n_chars, len(picks))
    toks = [GOOD4[int(rng.integers(0, len(GOOD4)))] for _ in range(m1)]
    if picks:
        pos = np.linspace(0, m1 - 1, num=len(picks)).astype(int)
        for p, t in zip(pos, picks):
            assert len(t) == 4
            toks[int(p)] = t
    text = " ".join(toks + [tail])
    assert len(text) == n_chars, (len(text), n_chars)
    return text


# ---------------------------------------------------------------------------
# F1 — sort suite (ranking + budget; reference test_sort.*)
# ---------------------------------------------------------------------------

def sort_suite() -> list[dict]:
    """3 docs x exactly 5000 chars. Intrinsic ranking (2,3,1) must invert
    to (1,3,2) in reference mode (test_sort.txt:6-8)."""
    rng = np.random.default_rng(1001)
    n_units = 1000  # 1000 tokens -> 4999 chars + 1 pad
    docs = []
    # doc1: 10% family A  -> intrinsic 90, ref 100
    # doc2: 1% B + 2% C   -> intrinsic 99, ref 97
    # doc3: 1% B + 2% A   -> intrinsic 97, ref 99
    plants = {
        "sort/1": FAM_A * 25,                        # 100 tokens = 10%
        "sort/2": FAM_B[:2] * 5 + FAM_C * 10,        # 10 B + 20 C
        "sort/3": FAM_B[:2] * 5 + FAM_A[:2] * 10,    # 10 B + 20 A
    }
    for i, (suffix, picks) in enumerate(plants.items()):
        text = _fill_text(5000, list(picks), rng)
        assert len(text) == 5000
        docs.append(_row(f"https://fixture.test/{suffix}", text, idx=i))
    return docs


def ref_corpus(noisy: bool = False) -> list[dict]:
    """Reference side-input corpus (FIXTURES.md F6).

    Accepted tokens = VOCAB - REF_EXCLUDED + FAM_A. ``noisy=False`` is the
    assembly analog (one long clean doc, every token accepted once,
    src/kmers.cpp:137-139); ``noisy=True`` is the short-read analog (many
    fragments, token accepted only with count >= 4, src/kmers.cpp:41)."""
    accepted = sorted((VOCAB - REF_EXCLUDED) | set(FAM_A))
    rng = np.random.default_rng(1002)
    rows = []
    if not noisy:
        rows.append(_row("https://fixture.test/ref/assembly",
                         " ".join(accepted * 4), idx=0))
    else:
        # each accepted token appears >= 4 times across fragments; noise
        # tokens appear <= 3 times so the count threshold must reject them
        frags = []
        for rep in range(5):
            perm = list(rng.permutation(accepted))
            frags.extend(" ".join(perm[i:i + 8]) for i in range(0, len(perm), 8))
        for k in range(3):
            frags.append(f"noise{k}a noise{k}b noise{k}a noise{k}b")  # count 2,2 then 3 below
        frags.append("noise0a noise1a noise2a")
        for i, f in enumerate(frags):
            rows.append(_row(f"https://fixture.test/ref/frag/{i}", f, idx=i))
    return rows


# ---------------------------------------------------------------------------
# F2 — trim suite (reference test_trim.*)
# ---------------------------------------------------------------------------

def trim_suite() -> list[dict]:
    """4 docs with planted bad prefixes/suffixes (char counts incl. the
    separator space inside the bad block; FIXTURES.md F2 table)."""
    rng = np.random.default_rng(1003)

    def bad_block(n: int) -> str:
        """Exactly n chars of bad tokens (single spaces inside, no
        leading/trailing space)."""
        s = ("zqxv " * (n // 5 + 1))[:n]
        if s.endswith(" "):          # never end mid-separator
            s = s[:-1] + "q"
        return s

    def doc(total: int, pre: int, suf: int) -> str:
        # "bad prefix of N chars" = bad tokens + trailing separator = N
        # chars total, so the first good token starts at 0-based char N
        # and the trim child is {url}_{N+1}-{total} (FIXTURES.md F2)
        body = _fill_text(total - pre - suf, [], rng)
        text = (bad_block(pre - 1) + " " if pre else "") + body \
            + (" " + bad_block(suf - 1) if suf else "")
        assert len(text) == total, (len(text), total)
        return text

    spec = [("trim/1", 1300, 0, 0), ("trim/2", 701, 20, 0),
            ("trim/3", 1000, 0, 30), ("trim/4", 1900, 12, 15)]
    return [_row(f"https://fixture.test/{s}", doc(t, p, q), idx=i)
            for i, (s, t, p, q) in enumerate(spec)]


# ---------------------------------------------------------------------------
# F3 — split suite (reference test_split.*)
# ---------------------------------------------------------------------------

def split_suite() -> list[dict]:
    """4 docs x 2900 chars, a bad run planted right after char 1000:
    run lengths 0/50/100/200 chars (FIXTURES.md F3)."""
    rng = np.random.default_rng(1004)

    def bad_block(n: int) -> str:
        s = ("zqxv " * (n // 5 + 1))[:n]
        if s.endswith(" "):
            s = s[:-1] + "q"
        return s

    docs = []
    for i, run in enumerate([0, 50, 100, 200]):
        if run:
            # bad-token char span = exactly [1000, 1000+run): good head of
            # 999 chars, separator at 999, bad run, separator, tail.
            # Children at split: {url}_1-1000 and {url}_{1000+run+1}-2900.
            head = _fill_text(999, [], rng)
            tail = _fill_text(2900 - 1001 - run, [], rng)
            text = head + " " + bad_block(run) + " " + tail
        else:
            text = _fill_text(2900, [], rng)
        assert len(text) == 2900, len(text)
        docs.append(_row(f"https://fixture.test/split/{i+1}", text, idx=i))
    return docs


# ---------------------------------------------------------------------------
# F4 — badrec suite (malformed input; reference test_bad_fastq)
# ---------------------------------------------------------------------------

def badrec_suite() -> list[dict]:
    rng = np.random.default_rng(1005)
    good = _fill_text(600, [], rng)
    rows = [
        _row("https://fixture.test/bad/empty", "", idx=0),
        _row("https://fixture.test/bad/dup", good, idx=1),
        _row("https://fixture.test/bad/dup", good, idx=2),   # duplicate url
        _row("https://fixture.test/bad/ok", good, idx=3),
    ]
    rows.append({**_row("https://fixture.test/bad/null", good, idx=4), "text": None})
    rows.append({**_row("https://fixture.test/bad/binary", good, idx=5),
                 "html": b"\xff\xfe\x00broken"})
    return rows


# ---------------------------------------------------------------------------
# F8 — pii suite (regex scrub; north_rule's PII/toxicity scrubber)
# ---------------------------------------------------------------------------

def pii_suite() -> list[dict]:
    rng = np.random.default_rng(1006)
    body = _fill_text(400, [], rng)
    rows = [
        _row("https://fixture.test/pii/clean", body, idx=0),
        _row("https://fixture.test/pii/email",
             body[:200].rstrip() + " contact bob@example.com now " + body[:160].rstrip(), idx=1),
        _row("https://fixture.test/pii/phone",
             "call (555) 123-4567 " + body[:300].rstrip(), idx=2),
        _row("https://fixture.test/pii/toxic",
             body[:150].rstrip() + " you frobnak fool " + body[:200].rstrip(), idx=3),
        _row("https://fixture.test/pii/ssn",
             body[:100].rstrip() + " ssn 123-45-6789 end " + body[:250].rstrip(), idx=4),
    ]
    return rows


# ---------------------------------------------------------------------------
# F9 — langid suite (A2 gate analog)
# ---------------------------------------------------------------------------

def langid_suite() -> list[dict]:
    """One doc per language — natural sentences DISTINCT from the
    trigram training samples (core.LANG_SAMPLES), so the gate test
    checks generalization, not memorization."""
    sents = {
        "en": ("my friends walked through the quiet town in the morning "
               "and the children were reading their favourite books about "
               "weather and work"),
        "de": ("die kinder gehen am morgen durch die ruhige stadt und "
               "lesen ihre lieblingsbuecher ueber wetter und arbeit "
               "waehrend die freunde sprechen"),
        "fr": ("les amis marchent dans la ville calme le matin et les "
               "enfants lisent leurs livres preferes sur le temps et le "
               "travail"),
        "es": ("los amigos caminan por el pueblo tranquilo por la manana "
               "y los ninos leen sus libros favoritos sobre el tiempo y "
               "el trabajo"),
        "ru": ("друзья гуляют по тихому городу утром и дети читают свои "
               "любимые книги о погоде и работе пока свет падает на "
               "улицу"),
        "zh": ("朋友们早上在安静的小镇里散步孩子们读着他们喜欢的关于天气"
               "和工作的书本清晨的街道上一切都很平静"),
        "ar": ("يمشي الاصدقاء في المدينة الهادئة صباحا ويقرا الاطفال "
               "كتبهم المفضلة عن الطقس والعمل بينما يسقط الضوء على "
               "الشارع"),
        "ja": ("友だちは朝にしずかな町をあるいて子どもたちは天気としごとに"
               "ついてのすきな本をよんでいます通りにひかりがおちています"),
        "ko": ("친구들은 아침에 조용한 마을을 걷고 아이들은 날씨와 일에 "
               "관한 좋아하는 책을 읽습니다 거리에 햇살이 내립니다"),
        "hi": ("दोस्त सुबह शांत कस्बे में चलते हैं और बच्चे मौसम और काम "
               "के बारे में अपनी पसंदीदा किताबें पढ़ते हैं गली पर रोशनी "
               "गिरती है"),
    }
    return [_row(f"https://fixture.test/lang/{lang}", " ".join([txt] * 3),
                 lang, i)
            for i, (lang, txt) in enumerate(sents.items())]


# ---------------------------------------------------------------------------
# Volume generator (SF scales; FIXTURES.md "Volume generator")
# ---------------------------------------------------------------------------

def volume(sf: float, seed: int = 42) -> list[dict]:
    """~1000*sf docs: log-normal lengths (median ~2k chars), Beta bad-token
    fraction, Poisson-planted bad runs, Zipf-distributed hosts (host-skewed,
    like a crawl)."""
    rng = np.random.default_rng(seed)
    n_docs = max(20, int(1_000_000 * sf))  # sf=0.001 -> 1k docs (FIXTURES.md)
    lengths = np.clip(rng.lognormal(np.log(2000), 0.6, n_docs), 120, 20000).astype(int)
    bad_fracs = rng.beta(1.2, 12.0, n_docs)
    hosts = rng.zipf(1.6, n_docs) % 997          # skewed host ids
    langs = rng.choice(["en", "de", "fr", "es", "zh"], n_docs,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    good = np.array(GOOD4 + ["the", "a", "of", "and", "is"])
    rows = []
    for i in range(n_docs):
        n_units = int(lengths[i]) // 5
        toks = good[rng.integers(0, len(good), n_units)].tolist()
        n_bad = int(bad_fracs[i] * n_units)
        if n_bad:
            # some scattered, some in runs (Poisson run lengths)
            pos = rng.choice(n_units, size=n_bad, replace=False)
            run_len = 1 + rng.poisson(8)
            run_at = int(rng.integers(0, max(1, n_units - run_len)))
            for p in pos:
                toks[int(p)] = FAM_B[int(rng.integers(0, 4))]
            if rng.random() < 0.3:
                for j in range(run_at, min(n_units, run_at + run_len)):
                    toks[j] = FAM_B[int(rng.integers(0, 4))]
        text = " ".join(toks)
        rows.append(_row(f"https://host{hosts[i]}.example.com/doc/{i}",
                         text, lang=str(langs[i]), idx=i))
    return rows


def volume_spark(spark, sf: float, seed: int = 42):
    """Parallel (Spark-generated) volume table in the input_hint shape —
    same statistical design as ``volume()`` but generated map-side so
    multi-100k-doc benchmark inputs build in seconds. Deterministic per
    doc_id. Includes English marker words so the langid gate is exercised."""
    import pandas as pd

    from .functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    n_docs = max(20, int(1_000_000 * sf))
    pool = GOOD4 + ["the", "a", "of", "and", "is"]

    def gen(batches):
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": [], "text": [],
                    "lang": []}
            for doc_id in pdf["id"]:
                rng = np.random.default_rng(seed * 1_000_003 + int(doc_id))
                n_units = int(np.clip(rng.lognormal(np.log(2000), 0.6),
                                      120, 20000)) // 5
                toks = [pool[i] for i in rng.integers(0, len(pool), n_units)]
                n_bad = int(rng.beta(1.2, 12.0) * n_units)
                if n_bad:
                    for p in rng.choice(n_units, size=n_bad, replace=False):
                        toks[int(p)] = FAM_B[int(rng.integers(0, 4))]
                    if rng.random() < 0.3:
                        run_len = 1 + rng.poisson(8)
                        at = int(rng.integers(0, max(1, n_units - run_len)))
                        for j in range(at, min(n_units, at + run_len)):
                            toks[j] = FAM_B[int(rng.integers(0, 4))]
                text = " ".join(toks)
                host = rng.zipf(1.6) % 997
                rows["url"].append(
                    f"https://host{host}.example.com/doc/{int(doc_id)}")
                rows["warc_ts"].append(
                    BASE_TS + timedelta(seconds=int(doc_id)))
                rows["html"].append(b"")
                rows["text"].append(text)
                rows["lang"].append("en")
            yield pd.DataFrame(rows)

    return (spark.range(n_docs)
            .repartition(max(64, spark.sparkContext.defaultParallelism * 2))
            .mapInPandas(gen, schema=PAGES_SCHEMA))


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def to_spark_df(spark, rows: list[dict]):
    """Rows -> DataFrame in the input_hint schema."""
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=PAGES_SCHEMA)
