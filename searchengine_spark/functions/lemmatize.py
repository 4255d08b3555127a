"""Tokenizer + bilingual rule/dictionary lemmatizer (the reference's T1-T6).

Reference semantics being reproduced (see SURVEY.md §2.2; citations into
/root/reference):

- T1 HTML strip: ``Jsoup.clean(..., Safelist.none())`` applied only when the
  content looks like HTML — ``indexing/impl/LemmaSearcherImpl.java:31-34``.
  Transcript text is plain, so we strip tags defensively only when a ``<`` tag
  pattern is present.
- T2 tokenize: split on any non-letter, regex ``[^А-ЯЁа-яёA-Za-z]``, empty
  tokens skipped — ``LemmaSearcherImpl.java:98-101``.
- T3 per-alphabet split: a token containing Latin letters is lemmatized as
  English with Cyrillic chars stripped, and (independently) a token containing
  Cyrillic letters is lemmatized as Russian with Latin stripped, so a mixed
  token yields up to two lemmas — ``LemmaSearcherImpl.java:59-78``.
- T4 lowercase + lemmatize + POS stop-filter: the reference uses
  LuceneMorphology and drops function words by POS tag (EN: PREP, ARTICLE,
  PRON, CONJ, PART and bare "s"; RU: МЕЖД, СОЮЗ, ПРЕДЛ, ЧАСТ, МС) —
  ``LemmaSearcherImpl.java:80-96``. Bit-for-bit Lucene parity is impossible
  and not required (SURVEY §7 risk register); this module is the engine's
  deterministic, pure-Python replacement, and the pandas oracle imports the
  very same functions, which is what makes rank-identity well-defined.
- T5 ё→е normalization — ``LemmaSearcherImpl.java:71``.
- T6 per-doc lemma counting (tf) — ``LemmaSearcherImpl.java:25,73-74``.

Everything here is a pure function of its arguments (no I/O, no global
mutable state) so executors and the oracle agree byte-for-byte.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterator, Optional

import pandas as pd

# --- T2: the reference tokenizer regex, verbatim semantics -----------------
_CYR = "А-ЯЁа-яё"
_LAT = "A-Za-z"
TOKEN_SPLIT = re.compile(rf"[^{_CYR}{_LAT}]+")
_HAS_LATIN = re.compile(rf"[{_LAT}]")
_HAS_CYRILLIC = re.compile(rf"[{_CYR}]")
_STRIP_CYRILLIC = re.compile(rf"[{_CYR}]+")
_STRIP_LATIN = re.compile(rf"[{_LAT}]+")
_HTML_TAG = re.compile(r"<[^>]+>")

# --- T4 stop-lists (POS-tag analog of LemmaSearcherImpl.java:81-95) --------
# EN: ARTICLE / PREP / PRON / CONJ / PART + the bare "s" the reference drops.
EN_STOPWORDS = frozenset(
    """
    a an the
    in on at of to for with by from about as into over under between through
    during before after above below up down out off near
    i you he she it we they me him her us them my your his its our their
    mine yours hers ours theirs this that these those who whom whose which what
    and or but if so because while than nor either neither both whether
    not no yes do does did be is are was were been being am
    s
    """.split()
)

# RU: МЕЖД (interjection), СОЮЗ (conjunction), ПРЕДЛ (preposition),
# ЧАСТ (particle), МС (pronoun) — the tags filtered at
# LemmaSearcherImpl.java:88-95.
RU_STOPWORDS = frozenset(
    """
    и а но или да либо зато однако же
    в на с у к о об от до по за из под над при про без для через между
    не ни бы ли уж ведь вот лишь только
    я ты он она оно мы вы они меня тебя его её ее нас вас их мне тебе ей
    нам вам им мой твой наш ваш свой этот тот это то все весь кто что
    ох ах эй ура увы
    """.split()
)

# Small Russian inflection dictionary (dictionary lemmatizer analog of
# LuceneMorphology for the fixture vocabulary; unknown words fall through to
# the identity rule below). Keys and values are post-ё→е lowercase.
RU_DICT: dict[str, str] = {
    # поиск (search)
    "поиска": "поиск", "поиску": "поиск", "поиском": "поиск", "поиске": "поиск",
    "поиски": "поиск",
    # запрос (query)
    "запроса": "запрос", "запросу": "запрос", "запросом": "запрос",
    "запросе": "запрос", "запросы": "запрос", "запросов": "запрос",
    # слово (word)
    "слова": "слово", "слову": "слово", "словом": "слово", "слове": "слово",
    "словами": "слово", "словах": "слово",
    # страница (page)
    "страницы": "страница", "странице": "страница", "страницу": "страница",
    "страницей": "страница", "страниц": "страница", "страницах": "страница",
    # индекс (index)
    "индекса": "индекс", "индексу": "индекс", "индексом": "индекс",
    "индексе": "индекс", "индексы": "индекс", "индексов": "индекс",
    # лемма (lemma)
    "леммы": "лемма", "лемме": "лемма", "лемму": "лемма", "леммой": "лемма",
    "лемм": "лемма", "леммах": "лемма",
    # ёж (hedgehog) — pins the ё→е rule: all forms normalize to "еж"
    "ежа": "еж", "ежу": "еж", "ежом": "еж", "еже": "еж", "ежи": "еж",
    # данные (data)
    "данных": "данные", "данным": "данные", "данными": "данные",
}


def strip_html(text: str) -> str:
    """T1: tag-strip only when the content contains ``<html`` — the
    reference's exact trigger (``LemmaSearcherImpl.java:31-34,103-105``), so
    stray ``<``/``>`` in plain transcript text is never treated as markup."""
    if "<html" in text:
        return _HTML_TAG.sub(" ", text)
    return text


def tokenize(text: str) -> list[str]:
    """T2: split on ``[^А-ЯЁа-яёA-Za-z]``, drop empties
    (``LemmaSearcherImpl.java:98-101``)."""
    return [t for t in TOKEN_SPLIT.split(text) if t]


def _en_lemma(word: str) -> Optional[str]:
    """English rule lemmatizer + POS stop-filter (T4, EN branch).

    Deterministic suffix stripping standing in for LuceneMorphology's English
    dictionary (``LemmaSearcherImpl.java:81-87``). Returns None for dropped
    function words (the reference's PREP/ARTICLE/PRON/CONJ/PART + bare "s").
    """
    w = word.lower()
    if not w or w in EN_STOPWORDS:
        return None
    if w.endswith("ies") and len(w) > 4:
        w = w[:-3] + "y"
    elif w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ing") and len(w) > 5:
        w = w[:-3]
    elif w.endswith("ed") and len(w) > 4:
        w = w[:-2]
    elif w.endswith("s") and not w.endswith("ss") and len(w) > 3:
        w = w[:-1]
    return w if w not in EN_STOPWORDS else None


def _ru_lemma(word: str) -> Optional[str]:
    """Russian dictionary lemmatizer + POS stop-filter (T4, RU branch) with
    ё→е normalization first (T5, ``LemmaSearcherImpl.java:71``)."""
    w = word.lower().replace("ё", "е")
    if not w or w in RU_STOPWORDS:
        return None
    return RU_DICT.get(w, w)


def lemmatize_token(token: str) -> list[str]:
    """T3+T4: per-alphabet split of one token into ≤2 lemmas
    (``LemmaSearcherImpl.java:59-78``)."""
    out: list[str] = []
    if _HAS_LATIN.search(token):
        en = _en_lemma(_STRIP_CYRILLIC.sub("", token))
        if en:
            out.append(en)
    if _HAS_CYRILLIC.search(token):
        ru = _ru_lemma(_STRIP_LATIN.sub("", token))
        if ru:
            out.append(ru)
    return out


def lemmatize_text(text: Optional[str]) -> list[str]:
    """Full T1→T5 pipeline: text → ordered list of lemmas (with duplicates;
    order preserved for tf counting and snippet positions)."""
    if not text:
        return []
    out: list[str] = []
    for tok in tokenize(strip_html(text)):
        out.extend(lemmatize_token(tok))
    return out


def lemma_counts(text: Optional[str]) -> dict[str, int]:
    """T6: lemma → occurrence count for one document
    (``LemmaSearcherImpl.java:25,73-74``; tf source for ``search_index.rank``,
    ``indexing/PageIndexer.java:99,103-109``)."""
    return dict(Counter(lemmatize_text(text)))


def query_lemmas(query: str) -> set[str]:
    """Query → deduplicated, unordered lemma set
    (``LemmaSearcherImpl.java:108-110`` returns ``keySet()``; duplicate query
    terms collapse, order irrelevant — SURVEY §2.3 item 2)."""
    return set(lemmatize_text(query))


#: distinct tokens one worker's token→lemmas memo holds. Reaching the cap
#: clears the memo (the Zipf head refills it within a batch), so a
#: long-tail vocabulary cannot grow a worker without bound while a hit
#: stays one ``dict.get``; an LRU would add a Python-level call per token
#: on the build's hottest loop. At ~250 bytes an entry, ≤ ~25 MB a worker.
TOKEN_CACHE_CAP = 100_000


def cached_lemma_counter():
    """:func:`lemma_counts` for a stream of texts, memoizing each token's
    lemmas in a dict of at most :data:`TOKEN_CACHE_CAP` entries. Tokens
    lemmatize independently, so the memo preserves determinism."""
    cache: dict[str, list[str]] = {}

    def count_text(text):
        if not text:
            return {}
        counts: dict[str, int] = {}
        for tok in tokenize(strip_html(text)):
            r = cache.get(tok)
            if r is None:
                if len(cache) >= TOKEN_CACHE_CAP:
                    cache.clear()
                r = cache[tok] = lemmatize_token(tok)
            for lem in r:
                counts[lem] = counts.get(lem, 0) + 1
        return counts

    return count_text


# --- Spark-side vectorized wrapper ------------------------------------------
# Iterator[pd.Series] → Iterator[pd.Series] form so any per-worker setup cost
# is paid once per python worker, not per batch (SURVEY §2.6 / §4.1: the
# per-page prototype-bean analog). No per-row Python UDFs anywhere
# (BASELINE.json input_hint hard requirement) — this is an Arrow-batched
# pandas UDF; the per-value loop runs inside the worker over an Arrow batch.
def lemma_counts_udf():
    """Pandas UDF mapping a text column to ``map<string,int>`` lemma→tf.

    Counting tf inside the UDF (per document — no cross-row state) means the
    index build never shuffles exploded per-occurrence rows: the tf hash-agg
    stage disappears entirely (T6 done map-side, the strongest form of
    partial aggregation)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("map<string,int>")
    def _counts(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # worker-persistent token→lemmas memo: Zipf-distributed corpora hit
        # it for ~all occurrences, replacing regex+suffix work with one dict
        # lookup. The Iterator form keeps it across batches (the
        # per-worker-state pattern, SURVEY §2.6).
        count_text = cached_lemma_counter()
        for s in batches:
            yield s.map(count_text)

    return _counts
