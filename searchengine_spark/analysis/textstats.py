"""Text analysis operators: tokens, language-ID, quality, fingerprints.

These run corpus-wide at 10^12-doc scale, so everything is built-in
`pyspark.sql.functions` / generated SQL expressions — JVM-side, inside
whole-stage codegen, no Python in the loop. The word tokenizer here is the
*analysis* tokenizer (lowercase, split on non-letters, no stop-filter/
lemmatization) — independent of the search engine's lemmatizer (T2-T5),
which stays in functions/lemmatize.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def h32_col(col) -> Column:
    """The portable 32-bit hash H32 = int(md5(x)[0:8], 16) as ONE md5 + conv
    per row (Spark has ``conv``; the DuckDB oracle evaluates the equivalent
    ascii-arithmetic form from ``oracle.sqlgen.h32_sql`` — tests pin the two
    bit-identical). 16× fewer expression nodes than inlining h32_sql."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

#: split regex shared with the DuckDB oracles (letters only, incl. Cyrillic)
WORD_SPLIT = "[^A-Za-zА-ЯЁа-яё]+"


def tokens_col(col: str = "text") -> Column:
    """The analysis tokenizer as one in-row expression: the lowercased
    text's letter runs, in order, as an array (empty splits dropped)."""
    return F.filter(F.split(F.lower(col), WORD_SPLIT), lambda x: x != "")


#: tiny English function-word list for the language-ID heuristic
EN_MARKERS = ("the", "a", "an", "of", "and", "in", "on", "is", "to", "it")

LANG_EN_THRESHOLD = 0.05  # ≥5% marker tokens → 'en'


def words(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, word) — one row per token occurrence; empty/null texts drop
    out (same eligibility rule as the index build, T7)."""
    return (
        documents.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(text_col), WORD_SPLIT)).alias("word"),
        )
        .filter(F.col("word") != "")
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token counting: whitespace tokens, letter-run tokens, distinct
    letter-run tokens, char count.

    All four counts derive from the doc's own row (size / array_distinct
    over the in-row token array), so the operator is ONE codegen'd
    projection — no (doc, word) explode, no shuffle, no join-back. A doc
    with no letter runs gets an empty array, so its counts are 0 exactly as
    the previous left-join + fillna emitted."""
    ws = tokens_col()
    return documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        F.size(F.split(F.trim("text"), "\\s+")).alias("n_ws_tokens"),
        F.length("text").alias("n_chars"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )


#: BPE-ish pre-tokenizer classes (GPT-2-style minus lookarounds, so Java
#: regex (Spark) and RE2 (DuckDB) agree): letter runs, digit runs,
#: non-space punctuation runs
BPE_ALPHA = "[A-Za-zА-ЯЁа-яё]+"
BPE_DIGIT = "[0-9]+"
BPE_PUNCT = "[^A-Za-zА-ЯЁа-яё0-9\\s]+"
BPE_TOKEN = f"{BPE_ALPHA}|{BPE_DIGIT}|{BPE_PUNCT}"


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_digit_tokens, n_punct_tokens): counts under
    a BPE-style pre-tokenization (the token-budget estimator a training-data
    pipeline runs corpus-wide). Pure ``regexp_extract_all`` + ``size`` —
    whole-stage codegen, no UDF, no extra shuffle."""
    eligible = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return eligible.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(BPE_DIGIT), F.lit(0))).alias(
            "n_digit_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PUNCT), F.lit(0))).alias(
            "n_punct_tokens"
        ),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic: share of English function words among
    tokens; ≥ threshold → 'en', else 'und'. (The real corpus would add more
    languages' marker sets — same plan shape, one agg.)"""
    # in-row counts over the doc's own token array — no (doc, word) explode,
    # no shuffle. Docs with zero letter tokens are absent, matching the
    # previous groupBy-over-words shape.
    ws = tokens_col()
    d = (
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            F.size(ws).cast("long").alias("n"),
            F.size(F.filter(ws, lambda x: x.isin(*EN_MARKERS))).cast("long").alias(
                "n_en"
            ),
        )
        .filter(F.col("n") > 0)
    )
    # raw int ratio — bit-identical across engines, no rounding needed
    return d.select(
        "doc_id",
        (F.col("n_en") / F.col("n")).alias("en_ratio"),
        F.when(F.col("n_en") / F.col("n") >= LANG_EN_THRESHOLD, F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic doc-quality score in [0,1]: length saturation × lexical
    diversity (distinct/total tokens). Rounded for cross-engine comparison."""
    t = token_stats(documents)
    # ratios of exact ints: emit raw doubles (bit-identical across engines)
    return t.select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct") / F.greatest(F.col("n_tokens"), F.lit(1))).alias(
            "uniq_ratio"
        ),
        (
            F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
            * (F.col("n_distinct") / F.greatest(F.col("n_tokens"), F.lit(1)))
        ).alias("quality"),
    )


#: resolution of the hash-split bucket space (basis points of probability)
SPLIT_BUCKETS = 10_000

#: default corpus split for training-data prep
DEFAULT_SPLITS = (("train", 0.90), ("val", 0.05), ("test", 0.05))


def hash_split(
    documents: DataFrame,
    splits=DEFAULT_SPLITS,
    salt: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: ``H32(doc_id:salt) mod 10^4``
    buckets mapped to splits by cumulative weight. Stable under reshuffles,
    re-runs, and corpus growth (a doc's split never changes when other docs
    are added — the property random sampling lacks); changing ``salt``
    re-draws the whole assignment. Pure per-row built-ins: no shuffle, no
    state, embarrassingly parallel at any scale."""
    bucket, assign = split_cols(F.col(id_col), splits, salt)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        bucket.alias("split_bucket"),
        assign.alias("split"),
    )


def split_cols(id_col: Column, splits=DEFAULT_SPLITS, salt: str = "split-v1"):
    """(bucket, split) Column pair for an id column — per-row expressions, so
    consumers that already carry doc_id (e.g. the n-gram table in
    ``decontaminate``) derive the split with NO join against an assignment
    table."""
    bucket = h32_col(
        F.concat(id_col.cast("string"), F.lit(":" + salt))
    ) % SPLIT_BUCKETS
    cum = 0.0
    assign = None
    for name, w in splits[:-1]:
        cum += w
        t = int(round(cum * SPLIT_BUCKETS))
        assign = (
            F.when(bucket < t, F.lit(name))
            if assign is None
            else assign.when(bucket < t, F.lit(name))
        )
    return bucket, assign.otherwise(F.lit(splits[-1][0]))


#: default per-stratum keep rates for the stratified sampler (basis: the
#: lang_id strata; a real pipeline passes its own {stratum: rate} map)
SAMPLE_DEFAULT_RATES = (("en", 0.5), ("und", 0.1))


def stratified_sample(
    documents: DataFrame,
    rates=SAMPLE_DEFAULT_RATES,
    salt: str = "sample-v1",
) -> DataFrame:
    """(doc_id, stratum, sample_bucket, sampled): deterministic per-stratum
    downsampling — stratum is the ``lang_id`` prediction, and a doc is kept
    iff ``H32(doc_id:salt) mod SPLIT_BUCKETS < rate[stratum]·SPLIT_BUCKETS``.
    The same growth-stable hash gate as ``hash_split``: a doc's fate never
    changes when other docs arrive (the property ``df.sampleBy`` lacks —
    Bernoulli draws reshuffle on every re-run), and changing ``salt``
    re-draws the sample. Strata not in ``rates`` drop (rate 0).

    Rate QUANTIZATION: each rate is rounded to the nearest multiple of
    1/SPLIT_BUCKETS (= 1e-4 at the default 10_000), i.e. the effective
    keep-rate of 0.33333 is exactly 0.3333; rates below 5e-5 round to 0
    (keep nothing) and anything ≥ 1 - 5e-5 rounds to 1 (keep all). At
    production scale that bounds the sampled-count error at n·5e-5 —
    callers needing finer control raise SPLIT_BUCKETS (every split/sample
    operator shares it; changing it re-draws all assignments).

    Scale shape: the lang-ID (doc_id, word) aggregate is the only shuffle;
    the gate itself is a per-row built-in expression — embarrassingly
    parallel, no sort, no window, no state."""
    strata = lang_id(documents).select(
        "doc_id", F.col("pred_lang").alias("stratum")
    )
    bucket = h32_col(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))
    ) % SPLIT_BUCKETS
    thr = None
    for name, r in rates:
        t = F.lit(int(round(r * SPLIT_BUCKETS)))
        thr = (
            F.when(F.col("stratum") == name, t)
            if thr is None
            else thr.when(F.col("stratum") == name, t)
        )
    thr = thr.otherwise(F.lit(0))
    return strata.select(
        "doc_id",
        "stratum",
        bucket.alias("sample_bucket"),
        (bucket < thr).cast("long").alias("sampled"),
    )


def split_token_budget(
    documents: DataFrame,
    splits=DEFAULT_SPLITS,
    salt: str = "split-v1",
) -> DataFrame:
    """(split, n_docs, n_bpe_tokens): the token budget per train/val/test
    split — the report that decides whether a mixture hits its target
    token counts. The split is derived PER ROW from the same hash gate as
    :func:`hash_split` (no join against an assignment table) and the BPE
    pre-tokenizer count is the :func:`bpe_token_stats` expression, so the
    whole report is one codegen'd pass over the corpus + a 3-row
    aggregate: zero joins, one shuffle of 3 partial rows per task."""
    eligible = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    _, assign = split_cols(F.col("doc_id"), splits, salt)
    per_doc = eligible.select(
        assign.alias("split"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN), F.lit(0))).alias(
            "n"
        ),
    )
    return per_doc.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("n_bpe_tokens"),
    )


def decontaminate(
    documents: DataFrame,
    n: int = 3,
    splits=DEFAULT_SPLITS,
    salt: str = "split-v1",
    eval_splits=("val", "test"),
) -> DataFrame:
    """Train/eval decontamination: train-split docs sharing ≥1 word
    ``n``-gram with any val/test doc, with the count of distinct shared
    n-grams and a sample gram (the GPT-3-style eval-overlap filter; the
    real pipeline uses n≈13, tests use 3 so synthetic docs collide).

    Scale shape: splits derive per-row from the doc_id hash (no assignment
    join); the overlap join keys on ``md5(ngram)`` — fixed 32-char key vs
    arbitrarily long gram text, portable to the DuckDB oracle bit-for-bit
    (unlike xxhash64). Eval grams are distinct-reduced before the join
    (eval is the small side; Spark broadcasts it when it fits, AQE handles
    the hot-shingle skew otherwise). Output is train docs only, O(hits)."""
    _, split = split_cols(F.col("doc_id"), splits, salt)
    grams = word_ngrams(documents, n).withColumn("split", split)
    eval_grams = (
        grams.filter(F.col("split").isin(*eval_splits))
        .select(F.md5("ngram").alias("gh"))
        .distinct()
    )
    train = grams.filter(F.col("split") == "train").select(
        "doc_id", "ngram", F.md5("ngram").alias("gh")
    )
    return (
        train.join(eval_grams, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_grams"),
            F.min("ngram").alias("sample_gram"),
        )
    )


def _gram_counts(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, n_grams, n_gram_distinct) over eligible docs — the in-row
    (zero-shuffle) word n-gram duplication counters shared by
    :func:`repetition_stats` and :func:`corpus_filter_reasons`."""
    toks = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        tokens_col().alias("ws"),
    )
    grams = F.when(
        F.size("ws") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - n),
            lambda i: F.concat_ws(" ", F.slice("ws", i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_gram_distinct"),
    )


def repetition_stats(documents: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition signals per doc: duplicate-word fraction,
    top-word share, duplicate word-``n``-gram fraction. High values mark
    boilerplate / spam / degenerate text a training pipeline filters out.

    The n-gram side is computed in-row (split → slide → array_distinct),
    zero shuffle; the word side needs per-(doc, word) counts for the mode,
    one doc_id-keyed aggregation — evenly distributed, no skew risk."""
    wc = words(documents).groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    g = _gram_counts(documents, n)
    # ratios of exact ints, numerators cast to double — bit-identical
    # across engines (same convention as quality_score)
    return agg.join(g, "doc_id").select(
        "doc_id",
        (
            (F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("dup_word_ratio"),
        (
            F.col("top_count").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("top_word_ratio"),
        (
            (F.col("n_grams") - F.col("n_gram_distinct")).cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1))
        ).alias("dup_gram_ratio"),
    )


def word_ngrams(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, ngram) — distinct word n-grams (shingles) per doc.

    Built from the in-row token array (split + filter), NOT via
    explode + collect_list: collect_list after a shuffle does not preserve
    token order, and staying in-row also avoids a whole shuffle."""
    toks = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        tokens_col().alias("ws"),
    )
    # slide a window of n over the array: transform over 0..len-n
    idxs = F.when(
        F.size("ws") >= n, F.sequence(F.lit(0), F.size("ws") - n)
    ).otherwise(F.array().cast("array<int>"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(idxs, lambda i: F.concat_ws(" ", F.slice("ws", i + 1, n)))
            ).alias("ngram"),
        )
        .filter(F.col("ngram") != "")
        .distinct()
    )


#: composite corpus-filter thresholds (tuned so each reason fires on the
#: synthetic fixtures; a real pipeline overrides per corpus). Precedence of
#: the drop reasons is FILTER_REASONS order — first failing check wins, so
#: per-reason counts are a partition of the corpus (disjoint, sums to total).
FILTER_DEFAULTS = {
    "min_tokens": 20,  # Gopher drops <50-word docs; fixtures are shorter
    "require_lang": "en",  # None disables the language gate
    "max_dup_word_ratio": 0.68,
    "max_top_word_ratio": 0.20,
    "max_dup_gram_ratio": 0.30,
    "min_quality": 0.20,
}

#: reason labels in precedence order ('kept' last)
FILTER_REASONS = (
    "empty",
    "too_short",
    "non_english",
    "dup_words",
    "top_word",
    "dup_grams",
    "low_quality",
    "kept",
)


def corpus_filter_reasons(
    documents: DataFrame, thresholds: dict | None = None, ngram_n: int = 2
) -> DataFrame:
    """(doc_id, reason): the composite quality filter a training pipeline
    actually calls — language-ID + quality score + Gopher repetition
    signals combined in ONE pass (one (doc, word) aggregation + the in-row
    gram counters; lang/quality/repetition all derive from the same
    aggregate, so the corpus is read once, not three times).

    Every doc gets exactly one reason: the FIRST failing threshold in
    FILTER_REASONS precedence, or 'kept'. Scale shape: one hash shuffle on
    (doc_id, word), one on doc_id; all expressions are built-ins inside
    whole-stage codegen — no UDF, no window, no skew risk (doc_id keys)."""
    t = dict(FILTER_DEFAULTS, **(thresholds or {}))
    wc = words(documents).groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
        F.sum(F.when(F.col("word").isin(*EN_MARKERS), F.col("c")).otherwise(0)).alias(
            "n_en"
        ),
    )
    # all-punctuation docs are eligible but produce zero word rows → left
    # join + zero-fill (they fall out as 'too_short')
    sig = (
        _gram_counts(documents, ngram_n)
        .join(agg, "doc_id", "left")
        .fillna(0, subset=["n_tokens", "n_distinct", "top_count", "n_en"])
    )
    nt = F.greatest(F.col("n_tokens"), F.lit(1))
    ng = F.greatest(F.col("n_grams"), F.lit(1))
    en_ratio = F.col("n_en").cast("double") / nt
    dup_word = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / nt
    top_word = F.col("top_count").cast("double") / nt
    dup_gram = (F.col("n_grams") - F.col("n_gram_distinct")).cast("double") / ng
    quality = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * (
        F.col("n_distinct").cast("double") / nt
    )
    reason = F.when(F.col("n_tokens") < t["min_tokens"], F.lit("too_short"))
    if t["require_lang"] is not None:
        # marker-set heuristic == lang_id's rule (en iff ratio ≥ threshold)
        reason = reason.when(en_ratio < LANG_EN_THRESHOLD, F.lit("non_english"))
    reason = (
        reason.when(dup_word > t["max_dup_word_ratio"], F.lit("dup_words"))
        .when(top_word > t["max_top_word_ratio"], F.lit("top_word"))
        .when(dup_gram > t["max_dup_gram_ratio"], F.lit("dup_grams"))
        .when(quality < t["min_quality"], F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    graded = sig.select("doc_id", reason.alias("reason"))
    empty = documents.filter(
        F.col("text").isNull() | (F.length("text") == 0)
    ).select("doc_id", F.lit("empty").alias("reason"))
    return graded.unionByName(empty)


def filter_corpus(
    documents: DataFrame, thresholds: dict | None = None, ngram_n: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(kept corpus, per-reason drop counts). The kept side is a semi-join
    of the input against the 'kept' doc_ids — full rows survive, so the
    filtered corpus feeds the next pipeline stage unchanged."""
    reasons = corpus_filter_reasons(documents, thresholds, ngram_n)
    kept = documents.join(
        reasons.filter(F.col("reason") == "kept").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    summary = reasons.groupBy("reason").agg(F.count("*").alias("n_docs"))
    return kept, summary


def filter_summary(
    documents: DataFrame, thresholds: dict | None = None, ngram_n: int = 2
) -> DataFrame:
    """(reason, n_docs) — the drop-count report alone (one job)."""
    return (
        corpus_filter_reasons(documents, thresholds, ngram_n)
        .groupBy("reason")
        .agg(F.count("*").alias("n_docs"))
    )


def fingerprint(documents: DataFrame, n: int = 3) -> DataFrame:
    """Winnowing-style doc fingerprint: min portable-H32 over the doc's word
    n-grams (falls back to H32 of the whole lowercased text for docs shorter
    than n words).

    A doc's n-grams all live in its own row, so the whole operator is ONE
    in-row projection — ``array_min(transform(windows, h32))`` over the same
    token array :func:`word_ngrams` slides, with ``coalesce`` supplying the
    short-doc fallback (an empty window array min's to null). Zero shuffles,
    one corpus scan, fully codegen'd; the previous explode → groupBy(min) →
    anti-join-back shape paid a corpus-wide shuffle plus a second run of the
    n-gram job just to find the short docs. min over the non-distinct gram
    multiset equals min over the distinct set, so values are unchanged."""
    d = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        tokens_col().alias("ws"),
        F.lower("text").alias("_lt"),
    )
    idxs = F.when(
        F.size("ws") >= n, F.sequence(F.lit(0), F.size("ws") - n)
    ).otherwise(F.array().cast("array<int>"))
    minh = F.array_min(
        F.transform(idxs, lambda i: h32_col(F.concat_ws(" ", F.slice("ws", i + 1, n))))
    )
    return d.select(
        "doc_id", F.coalesce(minh, h32_col(F.col("_lt"))).alias("fingerprint")
    )
