"""Tokenizer/lemmatizer unit tests (SURVEY §5.1, T1–T5 semantics —
citations in searchengine_spark/functions/lemmatize.py)."""

from __future__ import annotations

from searchengine_spark.functions.lemmatize import (
    lemma_counts,
    lemmatize_text,
    lemmatize_token,
    query_lemmas,
    strip_html,
    tokenize,
)


def test_tokenize_reference_regex():
    # T2: split on [^А-ЯЁа-яёA-Za-z], empty tokens dropped
    assert tokenize("foo-bar_baz.7") == ["foo", "bar", "baz"]
    assert tokenize("https://example.com/a?b=1&c=2") == [
        "https", "example", "com", "a", "b", "c",
    ]
    assert tokenize("12345 !!! ...") == []
    assert tokenize("x=y+z") == ["x", "y", "z"]
    assert tokenize("") == []


def test_mixed_alphabet_token_kept_whole_then_split():
    # T3: `logлог` yields one EN lemma and one RU lemma
    assert sorted(lemmatize_token("logлог")) == ["log", "лог"]
    # EN-only and RU-only pass through their single branch
    assert lemmatize_token("spark") == ["spark"]
    assert lemmatize_token("поиск") == ["поиск"]


def test_yo_normalization():
    # T5: ё→е (LemmaSearcherImpl.java:71); ёж and its forms → еж
    assert lemmatize_token("ёж") == ["еж"]
    assert lemmatize_token("Ёж") == ["еж"]
    assert lemmatize_token("ежа") == ["еж"]
    assert lemmatize_token("ёлка") == ["елка"]


def test_stopword_pos_filter():
    # T4: EN function words dropped, incl. bare "s"
    for w in ["the", "a", "an", "of", "and", "it", "s", "not"]:
        assert lemmatize_token(w) == []
    for w in ["и", "в", "на", "не", "мы"]:
        assert lemmatize_token(w) == []


def test_en_suffix_rules():
    assert lemmatize_token("tables") == ["table"]
    assert lemmatize_token("walked") == ["walk"]
    assert lemmatize_token("walking") == ["walk"]
    assert lemmatize_token("stories") == ["story"]
    assert lemmatize_token("classes") == ["class"]
    # too-short guards: don't over-strip
    assert lemmatize_token("red") == ["red"]
    assert lemmatize_token("его") == []  # RU pronoun dropped
    assert lemmatize_token("gas") == ["gas"]


def test_ru_dictionary_forms():
    assert lemmatize_token("запросом") == ["запрос"]
    assert lemmatize_token("страницы") == ["страница"]
    assert lemmatize_token("леммах") == ["лемма"]


def test_case_insensitive():
    assert lemmatize_token("Spark") == ["spark"]
    assert lemmatize_token("ПОИСК") == ["поиск"]


def test_html_strip_only_when_html():
    # trigger is the reference's exact `content.contains("<html")` check —
    # plain text with <, >, or even tag-like spans passes through untouched
    assert strip_html("plain text < 5 and > 3") == "plain text < 5 and > 3"
    assert strip_html("<b>x</b>") == "<b>x</b>"
    assert strip_html("<html><p>hi</p></html>").strip() == "hi"


def test_lemma_counts_tf():
    # T6: tf = occurrences of each lemma
    c = lemma_counts("spark spark sparks the spark")
    assert c == {"spark": 4}
    assert lemma_counts("") == {}
    assert lemma_counts(None) == {}


def test_query_lemmas_dedup_unordered():
    # SURVEY §2.3 item 2: duplicates collapse, order irrelevant
    assert query_lemmas("spark spark SPARK") == {"spark"}
    assert query_lemmas("b a") == query_lemmas("a b")
    assert query_lemmas("the of and") == set()


def test_order_preserved_for_positions():
    assert lemmatize_text("alpha beta alpha") == ["alpha", "beta", "alpha"]


def test_worker_token_cache_is_bounded(monkeypatch):
    """More distinct tokens than the cap: every text counts as the uncached
    :func:`lemma_counts` does, and the memo, cleared when full, keeps only
    the tokens seen since (a token from before the clear is lemmatized
    again, a recent one is not)."""
    from searchengine_spark.functions import lemmatize as L

    letters = "abcdefghij"
    toks = ["tok" + letters[i // 10] + letters[i % 10] for i in range(100)]
    texts = [" ".join(toks[i : i + 5]) for i in range(0, 100, 5)]
    texts += ["spark sparks the Spark"] * 3
    want = [lemma_counts(t) for t in texts]
    misses = []

    def counting(tok):
        misses.append(tok)
        return lemmatize_token(tok)

    monkeypatch.setattr(L, "TOKEN_CACHE_CAP", 50)
    monkeypatch.setattr(L, "lemmatize_token", counting)
    count = L.cached_lemma_counter()
    assert [count(t) for t in texts] == want
    # every distinct token once ("Spark" and "spark" differ); repeats hit
    assert len(misses) == 100 + 4
    del misses[:]
    count("sparks")  # seen after the last clear (at 100 distinct tokens)
    assert misses == []
    count(toks[99])  # seen before it: cleared
    assert misses == [toks[99]]
    assert count("") == {} and count(None) == {}
