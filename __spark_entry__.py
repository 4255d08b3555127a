"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Design: the ``documents`` table plays the transcript corpus — each doc is
one "turn" (``conv_id = source-<doc_id>``, ``turn_idx = 0``; ``site`` =
``source``, the reference's Site analog). The fulltext queries run through
the REAL engine (index build → compressed posting blocks → BlockSearcher);
the analysis queries run the operators in ``searchengine_spark.analysis``.
Every hash/lemma rule the two sides share is emitted once by
``searchengine_spark.oracle.sqlgen``, so Spark and DuckDB cannot drift.

Float policy: RATIONAL outputs (ratios of exact integers — jaccard,
relevance, en_ratio, quality) are emitted as raw doubles, because IEEE
division of identical ints is bit-identical across engines while round()
half-rules differ (pandas half-even vs DuckDB half-away). IRRATIONAL
outputs (ln/sqrt-based: idf, BM25 scores, cosines) are rounded to 5-6
decimals on both sides — libm vs JVM can differ in the last ulp, and an
irrational value never lands exactly on a rounding boundary. Rankings
order by the rounded score with a deterministic (source, doc_id) tiebreak.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.analysis import ann, dedup, events, multimodal, textstats
from searchengine_spark.analysis.textstats import WORD_SPLIT
from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.postings import idf_col
from searchengine_spark.oracle.sqlgen import (
    h32_sql,
    minhash_sql,
    postings_cte_sql,
    simhash_bit_sql,
)

# ---------------------------------------------------------------------------
# fixed parameters of the query set (shared by Spark side and oracles)
# ---------------------------------------------------------------------------
REF_QUERY_TERMS = ["spark", "data", "window"]   # conjunctive Σtf query
BM25_QUERY_TERMS = ["query", "filter", "join"]  # disjunctive BM25 query
TOP_K = 20
K1, B = 1.2, 0.75
ANN_PROBES = [0, 1, 2, 3, 4]
ANN_K = 10
JACCARD_N, JACCARD_TAU = 3, 0.2
EMBED_TAU = 0.1
EMBED_DIM = 64  # testdata embeddings.parquet width (TESTDATA.md)
# 8 bits (vs the module's 16-bit default) at sf-test scale: 500 vectors
# need coarser buckets to produce a meaningful candidate set; production
# keeps 16+ bits so bucket count scales with the corpus
ENTRY_LSH_BITS = 8
IVF_CENTROIDS, IVF_NPROBE = 16, 4


# ---------------------------------------------------------------------------
# corpus loading + one memoized engine build per sf_dir
# ---------------------------------------------------------------------------
def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _as_transcripts(docs: DataFrame) -> DataFrame:
    """documents → the engine's input shape (BASELINE.json input_hint).
    conv_id sorts identically to (source, doc_id) — lpad keeps numeric order,
    and '-' < '0' keeps prefix-source groups in string order."""
    return docs.select(
        F.concat_ws(
            "-", "source", F.lpad(F.col("doc_id").cast("string"), 9, "0")
        ).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


_ENGINES: dict[str, object] = {}


def _engine(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the full compressed index over the corpus."""
    key = os.path.abspath(sf_dir)
    eng = _ENGINES.get(key)
    if eng is None:
        from searchengine_spark.engine import SearchEngine

        wh = tempfile.mkdtemp(prefix=f"se_entry_{os.path.basename(key)}_")
        eng = SearchEngine(spark, wh, EngineConfig(parallelism=8))
        eng.build(_as_transcripts(_documents(spark, sf_dir)))
        _ENGINES[key] = eng
    return eng


def _orig_id(col: str = "conv_id"):
    """engine conv_id → the original documents.doc_id."""
    return F.split(F.col(col), "-").getItem(1).cast("long")


# ---------------------------------------------------------------------------
# entry: flagship smoke query
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and serve
    the BM25 top-20 through the compressed-block WAND path."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    page, count = eng.search(" ".join(BM25_QUERY_TERMS), mode="bm25", limit=TOP_K)
    pdf = page[["conv_id", "turn_idx", "score"]].copy()
    pdf["n_candidates"] = int(count)
    return spark.createDataFrame(
        pdf, "conv_id string, turn_idx long, score double, n_candidates long"
    )


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------
def q_eligible(spark, sf_dir):
    """T7 eligibility filter (PageIndexer.java:65-67 analog)."""
    return (
        _documents(spark, sf_dir)
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "n_chars")
    )


def q_doc_ids(spark, sf_dir):
    """Dense doc-id assignment (two-pass range partition, SURVEY §4.3.1) —
    read back from the built index's documents table."""
    eng = _engine(spark, sf_dir)
    return (
        eng.catalog.read("documents")
        .select(_orig_id().alias("doc_id"), F.col("doc_id").alias("dense_id"))
    )


def q_postings_tf(spark, sf_dir):
    """Flat postings (term, doc, tf) — the search_index analog, via the
    vectorized lemmatizer + hash agg."""
    eng = _engine(spark, sf_dir)
    # bucket >= 0 prunes the per-doc #doc_len marker partition (real postings only)
    flat = eng.catalog.read("postings_flat").filter(F.col("bucket") >= 0)
    docs = eng.catalog.read("documents").select(
        "doc_id", _orig_id().alias("orig_id")
    )
    return flat.join(docs, "doc_id").select(
        F.col("orig_id").alias("doc_id"), "term", F.col("tf").cast("long").alias("tf")
    )


def q_doc_len(spark, sf_dir):
    """Per-doc post-lemmatization length (BM25 length norm input)."""
    eng = _engine(spark, sf_dir)
    return (
        eng.catalog.read("documents")
        .select(_orig_id().alias("doc_id"), F.col("doc_len").cast("long").alias("doc_len"))
    )


def q_term_stats(spark, sf_dir):
    """Global term stats: df, cf, idf (the lemma-table analog), rolled up
    from the per-site ``terms`` table, with idf at the index's n_docs."""
    eng = _engine(spark, sf_dir)
    n_docs = int(eng.catalog.read_meta()["n_docs"])
    return (
        eng.catalog.read("terms")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .select("term", "df", "cf", F.round(idf_col(F.col("df"), n_docs), 6).alias("idf"))
    )


def q_site_stats(spark, sf_dir):
    """The statistics endpoint (M5): per-site page + lemma counts, as
    ``SearchEngine.statistics`` serves them."""
    eng = _engine(spark, sf_dir)
    return spark.createDataFrame(
        [
            (d["site"], d["pages"], d["lemmas"])
            for d in eng.statistics()["statistics"]["detailed"]
        ],
        "site string, pages long, lemmas long",
    )


def q_search_ref(spark, sf_dir):
    """Reference-mode conjunctive Σtf search, top-20, through the compressed
    block path (SearchServiceImpl.java:107-167 semantics)."""
    eng = _engine(spark, sf_dir)
    page, _ = eng.search(" ".join(REF_QUERY_TERMS), mode="reference", limit=TOP_K)
    pdf = page.copy()
    pdf["doc_id"] = [int(c.split("-")[1]) for c in pdf["conv_id"]]
    # relevance = score/max of exact ints — raw double is bit-identical
    return spark.createDataFrame(
        pdf[["doc_id", "score", "relevance"]],
        "doc_id long, score double, relevance double",
    )


def q_search_bm25(spark, sf_dir):
    """BM25 top-20 through block-max WAND (pruned count opt-in — the page
    is identical to the exact path; only the count decode is skipped)."""
    eng = _engine(spark, sf_dir)
    page, _ = eng.search(
        " ".join(BM25_QUERY_TERMS), mode="bm25", limit=TOP_K, exact_count=False
    )
    pdf = page.copy()
    pdf["doc_id"] = [int(c.split("-")[1]) for c in pdf["conv_id"]]
    pdf["score"] = pdf["score"].round(5)
    return spark.createDataFrame(pdf[["doc_id", "score"]], "doc_id long, score double")


def q_search_count(spark, sf_dir):
    """Total candidate count (SearchResponse.count, pre-pagination)."""
    eng = _engine(spark, sf_dir)
    _, count = eng.search(" ".join(REF_QUERY_TERMS), mode="reference", limit=1)
    return spark.createDataFrame([(int(count),)], "n_candidates long")


def q_and_gate_sites(spark, sf_dir):
    """Per-site conjunctive gate (SearchServiceImpl.java:55-58): sites where
    every query term occurs."""
    eng = _engine(spark, sf_dir)
    terms = eng.catalog.read("terms")
    return (
        terms.filter(F.col("term").isin(REF_QUERY_TERMS))
        .groupBy("site")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(REF_QUERY_TERMS))
        .select("site")
    )


# ---- dedup / fingerprint ---------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_documents(spark, sf_dir)).select(
        "doc_id", "canonical_doc", F.col("is_dup").cast("long")
    )


def q_dedup_best(spark, sf_dir):
    """Keep-best near-dup dedup: one representative per transitive dup
    group (SimHash pairs → connected components; singletons included),
    highest quality score wins — the drop-the-copies step of
    training-data prep."""
    return dedup.dedup_keep_best(_documents(spark, sf_dir))


def q_minhash_sig(spark, sf_dir):
    return dedup.minhash_signatures(_documents(spark, sf_dir))


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir))


def q_simhash(spark, sf_dir):
    return dedup.simhash(_documents(spark, sf_dir))


def q_simhash_pairs(spark, sf_dir):
    """Hamming-neighbor near-dup pairs over SimHash signatures: pigeonhole
    chunk join + star-pairing + bit_count(xor) verification."""
    return dedup.simhash_pairs(_documents(spark, sf_dir), bits=16, max_hamming=3)


def q_dup_groups(spark, sf_dir):
    """Transitive duplicate groups: connected components (large-star /
    small-star) over the verified SimHash pair set — A≈B and B≈C put
    {A, B, C} in one group even when A–C was never emitted as a pair."""
    pairs = dedup.simhash_pairs(_documents(spark, sf_dir), bits=16, max_hamming=3)
    return dedup.connected_components(pairs.select("a", "b"))


def q_jaccard_pairs(spark, sf_dir):
    # max_shingle_df=None: the oracle-gated query is EXACT (no df filter in
    # the SQL either); the df cap stays an opt-in scale knob for skewed
    # corpora, not silent recall loss hidden behind a green gate
    return dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir), n=JACCARD_N, threshold=JACCARD_TAU,
        max_shingle_df=None,
    )


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_documents(spark, sf_dir), n=3)


# ---- embeddings ------------------------------------------------------------
def q_ann_topk(spark, sf_dir):
    return ann.cosine_topk(
        _embeddings(spark, sf_dir), ANN_PROBES, k=ANN_K, dim=EMBED_DIM
    ).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine"
    )


def q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k: probes scan only their nprobe nearest
    centroids' inverted lists (the ANN scale path beside LSH)."""
    return ann.ivf_topk(
        _embeddings(spark, sf_dir), ANN_PROBES, k=ANN_K,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
    ).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine"
    )


_ANN_INDEXED: set[str] = set()


def q_ann_ivf_served(spark, sf_dir):
    """IVF top-k SERVED from the persisted index (ann_centroids +
    cid-partitioned ann_lists in the engine catalog): quantizer training +
    corpus assignment run once in build_ivf_index; the query itself is a
    partition-pruned list scan — bit-identical to q_ann_ivf's math, so the
    same oracle gates both."""
    eng = _engine(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _ANN_INDEXED:
        eng.build_ann_index(emb, n_centroids=IVF_CENTROIDS)
        _ANN_INDEXED.add(key)
    return eng.ann_topk(emb, ANN_PROBES, k=ANN_K, nprobe=IVF_NPROBE).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine"
    )


def q_lsh_buckets(spark, sf_dir):
    """Seeded random-hyperplane LSH bucket histogram (n_bits × n_tables)."""
    return (
        ann.lsh_sign_buckets(
            _embeddings(spark, sf_dir), n_bits=ENTRY_LSH_BITS, dim=EMBED_DIM
        )
        .groupBy("lsh_table", "bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


def q_embed_neardup(spark, sf_dir):
    """Near-dup pairs from shared LSH buckets (all-pairs in small buckets,
    canonical-star in degenerate ones), cosine-verified."""
    return ann.lsh_bucket_pairs(
        _embeddings(spark, sf_dir),
        threshold=EMBED_TAU,
        n_bits=ENTRY_LSH_BITS,
        dim=EMBED_DIM,
    )


# ---- text analysis / multimodal -------------------------------------------
def q_embed_dup_groups(spark, sf_dir):
    """Transitive near-dup groups in EMBEDDING space: connected components
    over the cosine-verified LSH pair set — the same CC operator as the
    text-side q_dup_groups, composed across modalities."""
    pairs = ann.lsh_bucket_pairs(
        _embeddings(spark, sf_dir),
        threshold=EMBED_TAU,
        n_bits=ENTRY_LSH_BITS,
        dim=EMBED_DIM,
    )
    return dedup.connected_components(pairs.select("a", "b")).select(
        F.col("doc_id").alias("vec_id"), "component"
    )


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_documents(spark, sf_dir))


def q_quality(spark, sf_dir):
    return textstats.quality_score(_documents(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    return textstats.token_stats(_documents(spark, sf_dir)).select(
        "doc_id",
        F.col("n_ws_tokens").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_distinct").cast("long"),
        F.col("n_chars").cast("long"),
    )


def q_multimodal_features(spark, sf_dir):
    payloads = multimodal.to_payload_table(_documents(spark, sf_dir))
    return multimodal.extract_features(payloads).select(
        "doc_id",
        F.col("n_bytes").cast("long"),
        F.col("first_byte").cast("long"),
        "head_sum",
    )


def q_multimodal_binary(spark, sf_dir):
    """Binary plumbing on REAL bytes: seeded non-UTF8 payloads (md5 digests)
    with cycled media types, featurized through the Arrow mapInPandas path."""
    payloads = multimodal.synthetic_binary_payloads(_documents(spark, sf_dir))
    return multimodal.extract_features(payloads).select(
        "doc_id",
        "media_type",
        F.col("n_bytes").cast("long"),
        F.col("first_byte").cast("long"),
        "head_sum",
    )


def q_bpe_tokens(spark, sf_dir):
    """Token-budget estimation under BPE-style pre-tokenization (letter /
    digit / punctuation runs) — pure regexp built-ins, codegen'd."""
    return textstats.bpe_token_stats(_documents(spark, sf_dir)).select(
        "doc_id",
        F.col("n_bpe_tokens").cast("long"),
        F.col("n_digit_tokens").cast("long"),
        F.col("n_punct_tokens").cast("long"),
    )


def q_hash_split(spark, sf_dir):
    """Deterministic hash-bucket train/val/test split (stable under corpus
    growth and reshuffles — the sampling primitive of training-data prep)."""
    return textstats.hash_split(_documents(spark, sf_dir)).select(
        "doc_id", F.col("split_bucket").cast("long"), "split"
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling over the lang-ID strata —
    growth-stable hash gate, not Bernoulli draws."""
    return textstats.stratified_sample(_documents(spark, sf_dir))


def q_split_token_budget(spark, sf_dir):
    """Per-split BPE token budget: the mixture report of training-data
    prep (split derived per-row, zero joins, one 3-row aggregate)."""
    return textstats.split_token_budget(_documents(spark, sf_dir))


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filter signals: duplicate-word fraction,
    top-word share, duplicate-bigram fraction."""
    return textstats.repetition_stats(_documents(spark, sf_dir))


def q_decontam(spark, sf_dir):
    """Train/eval decontamination: train docs sharing word trigrams with
    the hash-split val/test sets (GPT-3-style eval-overlap filter)."""
    return textstats.decontaminate(_documents(spark, sf_dir)).select(
        "doc_id", F.col("n_shared_grams").cast("long"), "sample_gram"
    )


def q_decontam_13(spark, sf_dir):
    """Decontamination at production n=13 (the GPT-3 filter's actual gram
    length): pins the punctuation/whitespace normalization contract — a
    13-word span shared across splits collides regardless of how the
    surrounding punctuation differs, because grams are built from the
    letters-only token stream."""
    return textstats.decontaminate(_documents(spark, sf_dir), n=13).select(
        "doc_id", F.col("n_shared_grams").cast("long"), "sample_gram"
    )


def q_filter_summary(spark, sf_dir):
    """Composite corpus quality filter: lang-ID + quality + repetition
    thresholds applied in one pass; per-reason drop counts (the operator a
    training pipeline actually calls)."""
    return textstats.filter_summary(_documents(spark, sf_dir)).select(
        "reason", F.col("n_docs").cast("long")
    )


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def q_event_windows(spark, sf_dir):
    """Tumbling 1-hour windows per event type (the batch twin of a
    Structured-Streaming windowed aggregation)."""
    return events.windowed_counts(_events(spark, sf_dir), "1 hour").select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias(
            "window_start_us"
        ),
        "event_type",
        F.col("n_events").cast("long"),
        "sum_value",
    )


def q_sessions(spark, sf_dir):
    """Gap-based sessionization per user (30-minute inactivity gap)."""
    return events.sessionize(_events(spark, sf_dir), gap_minutes=30).select(
        "user_id",
        F.col("session_id").cast("long"),
        F.col("n_events").cast("long"),
        "start_us",
        "end_us",
    )


# ---------------------------------------------------------------------------
# S2/T8: link extraction → URL frontier over a deterministic page corpus
# ---------------------------------------------------------------------------
# One SQL dialect shared verbatim by Spark (F.expr) and DuckDB: the page
# corpus is synthesized per document — site = source, page /site/doc<id>,
# and ten anchors covering every branch of the reference's
# findUrls/checkLink/matchUrls (PageIndexer.java:169-222): plain kept,
# .html kept, .php+params kept, absolute-same-domain kept, foreign-domain
# rejected, shallower-depth rejected, escaped-space rejected after decode,
# escaped-cyrillic kept (RU regex), self rejected, shared hub deduplicated.
_LNK_SITE = "source"
_LNK_DID = "cast(doc_id as string)"
_LNK_DOMAIN = f"'https://' || {_LNK_SITE} || '.example.com'"
_LNK_PATH = f"'/' || {_LNK_SITE} || '/doc' || {_LNK_DID}"
_LNK_HTML = (
    "'<html><body>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/doc' || cast(doc_id + 1 as string) || '\">n</a>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/page' || {_LNK_DID} || '.html\">h</a>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/q' || {_LNK_DID} || '.php?k=v' || {_LNK_DID} || '\">p</a>'"
    f" || '<a href=\"' || {_LNK_DOMAIN} || '/' || {_LNK_SITE} || '/abs' || {_LNK_DID} || '\">a</a>'"
    f" || '<a href=\"https://other.example.org/x' || {_LNK_DID} || '\">f</a>'"
    f" || '<a href=\"/up' || {_LNK_DID} || '\">u</a>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/sp%20ace' || {_LNK_DID} || '\">s</a>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/%D0%BF' || {_LNK_DID} || '\">c</a>'"
    f" || '<a href=\"/' || {_LNK_SITE} || '/doc' || {_LNK_DID} || '\">self</a>'"
    " || '<a href=\"/shared/hub\">hub</a>'"
    " || '</body></html>'"
)


def q_link_frontier(spark, sf_dir):
    """S2+T8: href harvest → URL decode → site-regex cascade → depth rule →
    frontier dedup (minus known pages), reference-exact semantics."""
    from searchengine_spark.functions.links import extract_frontier

    pages = _documents(spark, sf_dir).select(
        F.expr(_LNK_SITE).alias("site"),
        F.expr(_LNK_DOMAIN).alias("domain"),
        F.expr(_LNK_PATH).alias("path"),
        F.expr(_LNK_HTML).alias("html"),
    )
    return extract_frontier(pages)


def q_url_decode(spark, sf_dir):
    """T8 standalone: percent/plus URL decoding (URLDecoder.decode analog,
    PageIndexer.java:195-202) — Spark's url_decode IS java.net.URLDecoder."""
    href = F.expr(
        f"'/a+b/sp%20ace' || {_LNK_DID} || '/%D0%BF%D0%B0%2Fv%3D1'"
    )
    return _documents(spark, sf_dir).select(
        "doc_id", href.alias("href"), F.url_decode(href).alias("decoded")
    )


def q_media_decode(spark, sf_dir):
    """REAL media decode (no stub): deterministic PNG/WAV payloads are
    synthesized per doc_id and decoded by the from-scratch codecs
    (analysis/media_codecs.py — zlib inflate + RFC 2083 scanline unfilter;
    RIFF/PCM) inside Arrow batches. Rows-only driver check: a zlib stream
    isn't expressible in DuckDB SQL, so this query has NO oracle_sql entry
    by design; decode correctness is pinned by tests/test_media_codecs.py
    (round-trip exactness, per-filter-type reference vectors, e2e parity
    against locally-computed numpy features)."""
    docs = _documents(spark, sf_dir).select("doc_id")
    payloads = multimodal.synthetic_media_payloads(docs)
    return multimodal.decode_media_features(payloads)


#: queries that intentionally ship without a DuckDB oracle (non-SQL-
#: expressible); the driver records a rows-only check for these, and the
#: in-repo parity test requires membership here so an accidentally-missing
#: oracle still fails loudly.
ROWS_ONLY_QUERIES = frozenset({"q_media_decode"})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_eligible": q_eligible,
        "q_doc_ids": q_doc_ids,
        "q_postings_tf": q_postings_tf,
        "q_doc_len": q_doc_len,
        "q_term_stats": q_term_stats,
        "q_site_stats": q_site_stats,
        "q_search_ref": q_search_ref,
        "q_search_bm25": q_search_bm25,
        "q_search_count": q_search_count,
        "q_and_gate_sites": q_and_gate_sites,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_best": q_dedup_best,
        "q_minhash_sig": q_minhash_sig,
        "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "q_simhash": q_simhash,
        "q_simhash_pairs": q_simhash_pairs,
        "q_dup_groups": q_dup_groups,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_fingerprint": q_fingerprint,
        "q_ann_topk": q_ann_topk,
        "q_ann_ivf": q_ann_ivf,
        "q_ann_ivf_served": q_ann_ivf_served,
        "q_lsh_buckets": q_lsh_buckets,
        "q_embed_neardup": q_embed_neardup,
        "q_embed_dup_groups": q_embed_dup_groups,
        "q_lang_id": q_lang_id,
        "q_quality": q_quality,
        "q_token_stats": q_token_stats,
        "q_multimodal_features": q_multimodal_features,
        "q_multimodal_binary": q_multimodal_binary,
        "q_bpe_tokens": q_bpe_tokens,
        "q_hash_split": q_hash_split,
        "q_stratified_sample": q_stratified_sample,
        "q_split_token_budget": q_split_token_budget,
        "q_repetition": q_repetition,
        "q_decontam": q_decontam,
        "q_decontam_13": q_decontam_13,
        "q_filter_summary": q_filter_summary,
        "q_event_windows": q_event_windows,
        "q_sessions": q_sessions,
        "q_link_frontier": q_link_frontier,
        "q_url_decode": q_url_decode,
        "q_media_decode": q_media_decode,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (generated where they share logic with the Spark side)
# ---------------------------------------------------------------------------
_POST = postings_cte_sql()  # tok/lemmas/lem/post/doclen CTEs over `documents`

_ELIG = "select count(*) from documents where text is not null and text <> ''"

_WRD = f"""
wrd as (
  select doc_id, w as word
  from (
    select doc_id,
           unnest(regexp_split_to_array(lower(text), '{WORD_SPLIT}')) as w
    from documents where text is not null and text <> ''
  ) where w <> ''
)
"""

def _grams_cte(n: int = 3) -> str:
    """word n-gram CTE matching textstats.word_ngrams exactly: len-n+1
    grams per doc (DuckDB slices are 1-based, end-inclusive → arr[i:i+n-1]
    is n words), none for docs shorter than n words."""
    return f"""
{_WRD},
toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WORD_SPLIT}'),
                     x -> x <> '') as arr
  from documents where text is not null and text <> ''
),
grams as (
  select distinct doc_id, g as ngram from (
    select doc_id,
           unnest(list_transform(range(1, greatest(len(arr) - {n} + 2, 1)),
                  i -> array_to_string(arr[i:i+{n - 1}], ' '))) as g
    from toks where len(arr) >= {n}
  )
)
"""


_GRAMS = _grams_cte(3)

_EFLAT = """
flat as (
  select vec_id, generate_subscripts(embedding, 1) as i,
         unnest(embedding) as v
  from embeddings
),
norms as (
  select vec_id, sqrt(sum(cast(v as double) * cast(v as double))) as nrm
  from flat group by vec_id
)
"""


def _plane_dot_sql(plane, col: str = "embedding") -> str:
    """Explicit left-to-right v[j]·c_j sum — same association order as the
    Spark-side _bucket_col fold, so the double result is bit-identical."""
    return " + ".join(
        f"cast({col}[{j + 1}] as double) * {float(c)!r}"
        for j, c in enumerate(plane)
    )


def _bucket_expr(table: int, col: str = "embedding") -> str:
    """One LSH table's bucket id: Σ 2^i·[⟨v, h_i⟩ > 0] with the SAME seeded
    hyperplanes the Spark side uses (ann.random_hyperplanes)."""
    planes = ann.random_hyperplanes(n_bits=ENTRY_LSH_BITS, dim=64)[table]
    terms = [
        f"(case when ({_plane_dot_sql(p, col)}) > 0 then {2 ** i} else 0 end)"
        for i, p in enumerate(planes)
    ]
    return "cast(" + " + ".join(terms) + " as bigint)"


def _bk_cte() -> str:
    """(vec_id, lsh_table, bucket) across all tables."""
    branches = "\n  union all\n".join(
        f"  select vec_id, {t} as lsh_table, {_bucket_expr(t)} as bucket "
        f"from embeddings"
        for t in range(ann.LSH_TABLES)
    )
    return f"bk as (\n{branches}\n)"


def _ivf_cents_cte(iters: int) -> str:
    """CTE chain mirroring ann.ivf_centroids: md5-ranked seed components →
    ``iters`` Lloyd rounds (cosine argmin assignment at SCORE_DECIMALS,
    per-component mean rounded to CENTROID_DECIMALS, empty clusters keep
    their previous centroid). Ends with cents{iters}/(cid, i, cv)."""
    sd, cd = ann.SCORE_DECIMALS, ann.CENTROID_DECIMALS
    parts = [
        f"""cseed as (
  select vec_id as cid from embeddings
  order by md5(cast(vec_id as varchar)), vec_id limit {IVF_CENTROIDS}
),
cents0 as (
  select c.cid, f.i, cast(f.v as double) as cv
  from cseed c join flat f on f.vec_id = c.cid
)"""
    ]
    for t in range(iters):
        parts.append(
            f"""cnorm{t} as (
  select cid, sqrt(sum(cv * cv)) as nrm from cents{t} group by cid
),
dots{t} as (
  select f.vec_id, c.cid, sum(cast(f.v as double) * c.cv) as dot
  from flat f join cents{t} c on c.i = f.i
  group by f.vec_id, c.cid
),
assign{t} as (
  select vec_id, cid from (
    select d.vec_id, d.cid,
           row_number() over (partition by d.vec_id
                              order by round(-(d.dot / (n.nrm * cn.nrm)), {sd}),
                                       d.cid) as r
    from dots{t} d
    join norms n on n.vec_id = d.vec_id
    join cnorm{t} cn on cn.cid = d.cid
  ) where r = 1
),
avgs{t} as (
  select a.cid, f.i, round(avg(cast(f.v as double)), {cd}) as cv
  from assign{t} a join flat f on f.vec_id = a.vec_id
  group by a.cid, f.i
),
cents{t + 1} as (
  select c.cid, c.i, coalesce(v.cv, c.cv) as cv
  from cents{t} c left join avgs{t} v on v.cid = c.cid and v.i = c.i
)"""
        )
    parts.append(
        f"""cnormF as (
  select cid, sqrt(sum(cv * cv)) as nrm from cents{iters} group by cid
),
dotsF as (
  select f.vec_id, c.cid, sum(cast(f.v as double) * c.cv) as dot
  from flat f join cents{iters} c on c.i = f.i
  group by f.vec_id, c.cid
)"""
    )
    return ",\n".join(parts)


def _pair_cand_cte(src: str, bucket_cols: list[str], id_col: str) -> str:
    """psz/cand CTEs mirroring dedup.star_pairs: all pairs inside buckets of
    ≤ STAR_PAIRS_CAP members (exact LSH candidate recall), canonical-star
    pairs for degenerate buckets above the cap."""
    bc = ", ".join(bucket_cols)
    cap = dedup.STAR_PAIRS_CAP
    return f"""psz as (select {bc}, count(*) as _cnt, min({id_col}) as _canon
       from {src} group by {bc}),
cand as (
  select distinct a, b from (
    select x.{id_col} as a, y.{id_col} as b
    from {src} x join {src} y using ({bc}) join psz s using ({bc})
    where s._cnt <= {cap} and x.{id_col} < y.{id_col}
    union all
    select s._canon as a, x.{id_col} as b
    from {src} x join psz s using ({bc})
    where s._cnt > {cap} and x.{id_col} <> s._canon
  )
)"""


def _ref_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in REF_QUERY_TERMS)


def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


def _split_bucket_sql() -> str:
    """Split-bucket SQL generated from the SAME constants the Spark side
    uses (textstats.SPLIT_BUCKETS, salt 'split-v1') — no drift possible."""
    h32 = h32_sql("cast(doc_id as varchar) || ':split-v1'")
    return f"({h32} % {textstats.SPLIT_BUCKETS})"


def _split_case_sql(b: str) -> str:
    cum, whens = 0.0, []
    for name, w in textstats.DEFAULT_SPLITS[:-1]:
        cum += w
        whens.append(
            f"when {b} < {int(round(cum * textstats.SPLIT_BUCKETS))} then '{name}'"
        )
    return f"case {' '.join(whens)} else '{textstats.DEFAULT_SPLITS[-1][0]}' end"


def _hash_split_oracle() -> str:
    return f"""
with b as (select doc_id, {_split_bucket_sql()} as b from documents)
select doc_id, cast(b as bigint) as split_bucket,
       {_split_case_sql('b')} as split
from b
"""


def _stratified_sample_oracle() -> str:
    """Stratified-sample SQL generated from the SAME constants the Spark
    side uses (SAMPLE_DEFAULT_RATES, salt 'sample-v1', SPLIT_BUCKETS,
    lang-ID markers/threshold) — no drift possible."""
    key = "cast(doc_id as varchar) || ':sample-v1'"
    b = f"({h32_sql(key)} % {textstats.SPLIT_BUCKETS})"
    whens = " ".join(
        f"when s.stratum = '{name}' then {int(round(r * textstats.SPLIT_BUCKETS))}"
        for name, r in textstats.SAMPLE_DEFAULT_RATES
    )
    en = ", ".join(f"'{m}'" for m in textstats.EN_MARKERS)
    return f"""
with {_WRD},
agg as (
  select doc_id, count(*) as n,
         sum(case when word in ({en}) then 1 else 0 end) as n_en
  from wrd group by doc_id
),
st as (
  select doc_id,
         case when cast(n_en as double) / n >= {textstats.LANG_EN_THRESHOLD}
              then 'en' else 'und' end as stratum
  from agg
)
select s.doc_id, s.stratum, cast({b} as bigint) as sample_bucket,
       cast(case when {b} < (case {whens} else 0 end) then 1 else 0 end
            as bigint) as sampled
from st s
"""


def _decontam_oracle(n: int = 3) -> str:
    return f"""
with {_grams_cte(n)},
sp as (select doc_id, {_split_case_sql(_split_bucket_sql())} as split
       from documents),
g as (select g.doc_id, g.ngram, s.split
      from grams g join sp s on g.doc_id = s.doc_id),
eg as (select distinct md5(ngram) as gh from g
       where split in ('val', 'test')),
tr as (select doc_id, ngram, md5(ngram) as gh from g where split = 'train')
select tr.doc_id, count(*) as n_shared_grams, min(tr.ngram) as sample_gram
from tr join eg on tr.gh = eg.gh
group by tr.doc_id
"""


def _filter_summary_oracle() -> str:
    """Composite-filter oracle generated from textstats.FILTER_DEFAULTS —
    same signals, same precedence case-chain, no drift possible."""
    t = textstats.FILTER_DEFAULTS
    en_markers = ", ".join(f"'{m}'" for m in textstats.EN_MARKERS)
    lang_when = (
        "when cast(n_en as double) / greatest(n_tokens, 1) < "
        f"{textstats.LANG_EN_THRESHOLD!r} then 'non_english'"
        if t["require_lang"] is not None
        else ""
    )
    return f"""
with {_WRD},
wc as (select doc_id, word, count(*) as c from wrd group by 1, 2),
agg as (
  select doc_id, sum(c) as n_tokens, count(*) as n_distinct,
         max(c) as top_count,
         sum(case when word in ({en_markers}) then c else 0 end) as n_en
  from wc group by doc_id
),
toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WORD_SPLIT}'),
                     x -> x <> '') as arr
  from documents where text is not null and text <> ''
),
g2 as (
  select doc_id,
         case when len(arr) >= 2 then len(arr) - 1 else 0 end as n_grams,
         case when len(arr) >= 2
              then len(list_distinct(list_transform(range(1, len(arr)),
                       i -> arr[i] || ' ' || arr[i+1])))
              else 0 end as n_gram_distinct
  from toks
),
sig as (
  select g2.doc_id,
         coalesce(a.n_tokens, 0) as n_tokens,
         coalesce(a.n_distinct, 0) as n_distinct,
         coalesce(a.top_count, 0) as top_count,
         coalesce(a.n_en, 0) as n_en,
         g2.n_grams, g2.n_gram_distinct
  from g2 left join agg a on g2.doc_id = a.doc_id
),
r as (
  select case
    when n_tokens < {t["min_tokens"]} then 'too_short'
    {lang_when}
    when cast(n_tokens - n_distinct as double) / greatest(n_tokens, 1)
         > {t["max_dup_word_ratio"]!r} then 'dup_words'
    when cast(top_count as double) / greatest(n_tokens, 1)
         > {t["max_top_word_ratio"]!r} then 'top_word'
    when cast(n_grams - n_gram_distinct as double) / greatest(n_grams, 1)
         > {t["max_dup_gram_ratio"]!r} then 'dup_grams'
    when least(n_tokens / 50.0, 1.0)
         * (cast(n_distinct as double) / greatest(n_tokens, 1))
         < {t["min_quality"]!r} then 'low_quality'
    else 'kept' end as reason
  from sig
  union all
  select 'empty' as reason from documents
  where text is null or text = ''
)
select reason, count(*) as n_docs from r group by reason
"""


def oracle_sql() -> dict[str, str]:
    n_ref = len(REF_QUERY_TERMS)
    minhash_cols = ",\n    ".join(
        f"min({minhash_sql('word', i)}) as s{i}" for i in range(dedup.N_MINHASH)
    )
    rows = dedup.N_MINHASH // dedup.LSH_BANDS
    band_selects = "\n  union all\n".join(
        "  select doc_id, {b} as band, concat_ws('_', {cols}) as band_key from sig".format(
            b=b,
            cols=", ".join(f"s{b * rows + r}" for r in range(rows)),
        )
        for b in range(dedup.LSH_BANDS)
    )
    simhash_terms = " + ".join(
        f"(case when sum(tf * ({simhash_bit_sql('word', i)} * 2 - 1)) > 0 "
        f"then {2 ** i} else 0 end)"
        for i in range(16)
    )
    # byte-accurate head sum over the UTF-8 encoding: byte j of the blob via
    # hex-pair parse ('0x' || substr(hex(b), 2j-1, 2)), NOT ascii()/substr()
    # character semantics — those diverge from the Spark side's byte math on
    # any non-ASCII text (the fixtures include Russian)
    def blob_head_sum(blob: str, n: int = 8) -> str:
        return " + ".join(
            f"(case when octet_length({blob}) >= {j} then "
            f"cast('0x' || substr(hex({blob}), {2 * j - 1}, 2) as int) "
            f"else 0 end)"
            for j in range(1, n + 1)
        )

    head_sum = blob_head_sum("b")
    en_markers = ", ".join(f"'{m}'" for m in textstats.EN_MARKERS)

    sqls = {
        "q_eligible": (
            "select doc_id, n_chars from documents "
            "where text is not null and text <> ''"
        ),
        "q_doc_ids": (
            "select doc_id, "
            "cast(row_number() over (order by source, doc_id) - 1 as bigint) as dense_id "
            "from documents where text is not null and text <> ''"
        ),
        "q_postings_tf": f"with {_POST} select doc_id, term, tf from post",
        "q_doc_len": f"""
with {_POST},
elig as (select doc_id from documents where text is not null and text <> '')
select e.doc_id, cast(coalesce(d.doc_len, 0) as bigint) as doc_len
from elig e left join doclen d on e.doc_id = d.doc_id
""",
        "q_term_stats": f"""
with {_POST},
n as (select cast(({_ELIG}) as double) as n_docs)
select term, count(*) as df, cast(sum(tf) as bigint) as cf,
       round(ln(1.0 + (n.n_docs - count(*) + 0.5) / (count(*) + 0.5)), 6) as idf
from post, n group by term, n.n_docs
""",
        "q_site_stats": f"""
with {_POST},
docsite as (select doc_id, source as site from documents
            where text is not null and text <> '')
select d.site, count(distinct d.doc_id) as pages,
       count(distinct p.term) as lemmas
from docsite d left join post p on d.doc_id = p.doc_id
group by d.site
""",
        "q_search_ref": f"""
with {_POST},
cand as (
  select doc_id, cast(sum(tf) as double) as score
  from post where term in ({_ref_terms_sql()})
  group by doc_id having count(distinct term) = {n_ref}
),
mx as (select max(score) as m from cand),
src as (select doc_id, source from documents)
select c.doc_id, c.score, c.score / m as relevance
from cand c join src on c.doc_id = src.doc_id, mx
order by round(c.score, 9) desc, src.source, c.doc_id
limit {TOP_K}
""",
        "q_search_bm25": f"""
with {_POST},
n as (select cast(({_ELIG}) as double) as n_docs),
avgdl as (select (select cast(sum(tf) as double) from post) / n.n_docs as a
          from n),
stats as (
  select term, count(*) as df from post
  where term in ({_bm25_terms_sql()}) group by term
),
scored as (
  select p.doc_id,
         sum(
           ln(1.0 + (n.n_docs - s.df + 0.5) / (s.df + 0.5))
           * p.tf * {K1 + 1.0}
           / (p.tf + {K1} * (1.0 - {B} + {B} * d.doc_len / avgdl.a))
         ) as score
  from post p
  join stats s on p.term = s.term
  join doclen d on p.doc_id = d.doc_id
  cross join n cross join avgdl
  group by p.doc_id
)
select s.doc_id, round(s.score, 5) as score
from scored s join documents d2 on s.doc_id = d2.doc_id
order by round(s.score, 9) desc, d2.source, s.doc_id limit {TOP_K}
""",
        "q_search_count": f"""
with {_POST}
select cast(count(*) as bigint) as n_candidates from (
  select doc_id from post where term in ({_ref_terms_sql()})
  group by doc_id having count(distinct term) = {n_ref}
)
""",
        "q_and_gate_sites": f"""
with {_POST},
docsite as (select doc_id, source as site from documents)
select d.site from post p join docsite d on p.doc_id = d.doc_id
where p.term in ({_ref_terms_sql()})
group by d.site having count(distinct p.term) = {n_ref}
""",
        "q_dedup_exact": """
select doc_id, min(doc_id) over (partition by md5(text)) as canonical_doc,
       cast(case when doc_id <> min(doc_id) over (partition by md5(text))
            then 1 else 0 end as bigint) as is_dup
from documents where text is not null and text <> ''
""",
        "q_minhash_sig": f"""
with {_WRD},
dt as (select distinct doc_id, word from wrd)
select doc_id,
    {minhash_cols}
from dt group by doc_id
""",
        "q_minhash_lsh_pairs": f"""
with {_WRD},
dt as (select distinct doc_id, word from wrd),
sig as (
  select doc_id,
      {minhash_cols}
  from dt group by doc_id
),
banded as (
{band_selects}
),
{_pair_cand_cte("banded", ["band", "band_key"], "doc_id")}
select a, b from cand
""",
        "q_simhash": f"""
with {_WRD},
tfs as (select doc_id, word, count(*) as tf from wrd group by doc_id, word)
select doc_id, cast({simhash_terms} as bigint) as simhash
from tfs group by doc_id
""",
        "q_simhash_pairs": f"""
with {_WRD},
tfs as (select doc_id, word, count(*) as tf from wrd group by doc_id, word),
sig as (
  select doc_id, cast({simhash_terms} as bigint) as simhash
  from tfs group by doc_id
),
bands as (
{" union all ".join(f"  select doc_id, {c} as band, (simhash >> {c * 4}) & 15 as key from sig" for c in range(4))}
),
{_pair_cand_cte("bands", ["band", "key"], "doc_id")}
select c.a, c.b,
       cast(bit_count(xor(sa.simhash, sb.simhash)) as int) as hamming
from cand c
join sig sa on sa.doc_id = c.a
join sig sb on sb.doc_id = c.b
where bit_count(xor(sa.simhash, sb.simhash)) <= 3
""",
        "q_jaccard_pairs": f"""
with {_GRAMS},
sizes as (select doc_id, count(*) as sz from grams group by doc_id),
inter as (
  select a.doc_id as a, b.doc_id as b, count(*) as i
  from grams a join grams b
    on a.ngram = b.ngram and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select i.a, i.b,
       cast(i.i as double) / (sa.sz + sb.sz - i.i) as jaccard
from inter i
join sizes sa on i.a = sa.doc_id
join sizes sb on i.b = sb.doc_id
where cast(i.i as double) / (sa.sz + sb.sz - i.i) >= {JACCARD_TAU}
""",
        "q_fingerprint": f"""
with {_GRAMS},
fp as (select doc_id, min({h32_sql('ngram')}) as fingerprint
       from grams group by doc_id),
elig as (select doc_id, lower(text) as lt from documents
         where text is not null and text <> '')
select e.doc_id,
       coalesce(fp.fingerprint, {h32_sql('e.lt')}) as fingerprint
from elig e left join fp on e.doc_id = fp.doc_id
""",
        "q_ann_topk": f"""
with {_EFLAT},
qv as (select vec_id as query_id, i, cast(v as double) as qval
       from flat where vec_id in ({", ".join(map(str, ANN_PROBES))})),
dots as (
  select f.vec_id, q.query_id, sum(cast(f.v as double) * q.qval) as dot
  from flat f join qv q on f.i = q.i
  where f.vec_id <> q.query_id
  group by f.vec_id, q.query_id
),
cos as (
  select d.query_id, d.vec_id,
         round(d.dot / (na.nrm * nb.nrm), {ann.SCORE_DECIMALS}) as cosine
  from dots d
  join norms na on na.vec_id = d.query_id
  join norms nb on nb.vec_id = d.vec_id
)
select query_id, cast(rank as bigint) as rank, vec_id, cosine from (
  select query_id, vec_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, vec_id) as rank
  from cos
) where rank <= {ANN_K}
""",
        "q_ann_ivf": f"""
with {_EFLAT},
{_ivf_cents_cte(ann.IVF_ITERS)},
ccos as (
  select d.vec_id, d.cid, d.dot / (n.nrm * cn.nrm) as rcos
  from dotsF d
  join norms n on n.vec_id = d.vec_id
  join cnormF cn on cn.cid = d.cid
),
assign as (
  select vec_id, cid from (
    select vec_id, cid,
           row_number() over (partition by vec_id
                              order by round(-rcos, {ann.SCORE_DECIMALS}), cid) as r
    from ccos
  ) where r = 1
),
pc as (
  select query_id, cid from (
    select vec_id as query_id, cid,
           row_number() over (partition by vec_id
                              order by round(rcos, {ann.SCORE_DECIMALS}) desc, cid) as r
    from ccos where vec_id in ({", ".join(map(str, ANN_PROBES))})
  ) where r <= {IVF_NPROBE}
),
cand as (
  select pc.query_id, a.vec_id
  from assign a join pc on a.cid = pc.cid
  where a.vec_id <> pc.query_id
),
fdots as (
  select c.query_id, c.vec_id, sum(cast(fa.v as double) * cast(fb.v as double)) as dot
  from cand c
  join flat fa on fa.vec_id = c.vec_id
  join flat fb on fb.vec_id = c.query_id and fb.i = fa.i
  group by c.query_id, c.vec_id
),
fcos as (
  select d.query_id, d.vec_id,
         round(d.dot / (na.nrm * nb.nrm), {ann.SCORE_DECIMALS}) as cosine
  from fdots d
  join norms na on na.vec_id = d.vec_id
  join norms nb on nb.vec_id = d.query_id
)
select query_id, cast(rank as bigint) as rank, vec_id, cosine from (
  select query_id, vec_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, vec_id) as rank
  from fcos
) where rank <= {ANN_K}
""",
        # the served path's math is shared with q_ann_ivf (same persisted
        # centroids/assignment/norm doubles) — the same oracle gates both
        "q_ann_ivf_served": None,  # filled below from q_ann_ivf
        "q_lsh_buckets": f"""
with {_bk_cte()}
select lsh_table, bucket, count(*) as n_vecs
from bk group by 1, 2
""",
        "q_embed_neardup": f"""
with {_EFLAT},
{_bk_cte()},
{_pair_cand_cte("bk", ["lsh_table", "bucket"], "vec_id")},
dots as (
  select c.a, c.b, sum(cast(fa.v as double) * cast(fb.v as double)) as dot
  from cand c
  join flat fa on fa.vec_id = c.a
  join flat fb on fb.vec_id = c.b and fb.i = fa.i
  group by c.a, c.b
)
select d.a, d.b, round(d.dot / (na.nrm * nb.nrm), {ann.SCORE_DECIMALS}) as cosine
from dots d
join norms na on na.vec_id = d.a
join norms nb on nb.vec_id = d.b
where round(d.dot / (na.nrm * nb.nrm), {ann.SCORE_DECIMALS}) >= {EMBED_TAU}
""",
        "q_lang_id": f"""
with {_WRD},
agg as (
  select doc_id, count(*) as n,
         sum(case when word in ({en_markers}) then 1 else 0 end) as n_en
  from wrd group by doc_id
)
select doc_id, cast(n_en as double) / n as en_ratio,
       case when cast(n_en as double) / n >= {textstats.LANG_EN_THRESHOLD}
            then 'en' else 'und' end as pred_lang
from agg
""",
        "q_quality": f"""
with {_WRD},
agg as (
  select doc_id, count(*) as n_tokens, count(distinct word) as n_distinct
  from wrd group by doc_id
)
select doc_id, n_tokens,
       cast(n_distinct as double) / greatest(n_tokens, 1) as uniq_ratio,
       least(n_tokens / 50.0, 1.0)
         * (cast(n_distinct as double) / greatest(n_tokens, 1)) as quality
from agg
""",
        "q_token_stats": f"""
with {_WRD},
agg as (
  select doc_id, count(*) as n_tokens, count(distinct word) as n_distinct
  from wrd group by doc_id
)
select d.doc_id,
       cast(len(regexp_split_to_array(trim(d.text), '\\s+')) as bigint) as n_ws_tokens,
       coalesce(a.n_tokens, 0) as n_tokens,
       coalesce(a.n_distinct, 0) as n_distinct,
       cast(length(d.text) as bigint) as n_chars
from documents d left join agg a on d.doc_id = a.doc_id
where d.text is not null and d.text <> ''
""",
        "q_multimodal_features": f"""
with pl as (
  select doc_id, encode(text) as b from documents
  where text is not null and text <> ''
)
select doc_id,
       cast(octet_length(b) as bigint) as n_bytes,
       cast(case when octet_length(b) >= 1
            then cast('0x' || substr(hex(b), 1, 2) as int) else 0 end
            as bigint) as first_byte,
       cast({head_sum} as bigint) as head_sum
from pl
""",
        "q_bpe_tokens": f"""
select doc_id,
       cast(len(regexp_extract_all(text, '{textstats.BPE_TOKEN}')) as bigint)
         as n_bpe_tokens,
       cast(len(regexp_extract_all(text, '{textstats.BPE_DIGIT}')) as bigint)
         as n_digit_tokens,
       cast(len(regexp_extract_all(text, '{textstats.BPE_PUNCT}')) as bigint)
         as n_punct_tokens
from documents where text is not null and text <> ''
""",
        "q_hash_split": _hash_split_oracle(),
        "q_stratified_sample": _stratified_sample_oracle(),
        "q_split_token_budget": f"""
with b as (
  select {_split_case_sql(_split_bucket_sql())} as split,
         cast(len(regexp_extract_all(text, '{textstats.BPE_TOKEN}')) as bigint)
           as n
  from documents where text is not null and text <> ''
)
select split, count(*) as n_docs, cast(sum(n) as bigint) as n_bpe_tokens
from b group by split
""",
        "q_decontam": _decontam_oracle(),
        "q_decontam_13": _decontam_oracle(13),
        "q_filter_summary": _filter_summary_oracle(),
        "q_repetition": f"""
with {_WRD},
wc as (
  select doc_id, word, count(*) as c from wrd group by doc_id, word
),
agg as (
  select doc_id, sum(c) as n_tokens, count(*) as n_distinct,
         max(c) as top_count
  from wc group by doc_id
),
toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WORD_SPLIT}'),
                     x -> x <> '') as arr
  from documents where text is not null and text <> ''
),
g2 as (
  select doc_id,
         case when len(arr) >= 2 then len(arr) - 1 else 0 end as n_grams,
         case when len(arr) >= 2
              then len(list_distinct(list_transform(range(1, len(arr)),
                       i -> arr[i] || ' ' || arr[i+1])))
              else 0 end as n_gram_distinct
  from toks
)
select a.doc_id,
       cast(a.n_tokens - a.n_distinct as double) / greatest(a.n_tokens, 1)
         as dup_word_ratio,
       cast(a.top_count as double) / greatest(a.n_tokens, 1)
         as top_word_ratio,
       cast(g.n_grams - g.n_gram_distinct as double) / greatest(g.n_grams, 1)
         as dup_gram_ratio
from agg a join g2 g on a.doc_id = g.doc_id
""",
        "q_event_windows": """
select cast(epoch_us(date_trunc('hour', ts)) as bigint) as window_start_us,
       event_type,
       count(*) as n_events,
       round(sum(value), 6) as sum_value
from events group by 1, 2
""",
        "q_sessions": """
with e as (
  select user_id, event_id, epoch_us(ts) as us from events
),
lagged as (
  select user_id, event_id, us,
         lag(us) over (partition by user_id order by us, event_id) as prev
  from e
),
flags as (
  select user_id, event_id, us,
         case when prev is null then 0
              when us - prev > 30 * 60 * 1000000 then 1 else 0 end as f
  from lagged
),
sess as (
  select user_id, us,
         sum(f) over (partition by user_id order by us, event_id
                      rows unbounded preceding) as s
  from flags
)
select user_id, min(us) as session_id,
       count(*) as n_events,
       min(us) as start_us, max(us) as end_us
from sess group by user_id, s
""",
        "q_multimodal_binary": f"""
with pl as (
  select doc_id, from_hex(md5(cast(doc_id as varchar))) as b,
         (['image/png', 'audio/wav', 'video/mp4'])[cast(doc_id % 3 as int) + 1]
           as media_type
  from documents
)
select doc_id, media_type,
       cast(octet_length(b) as bigint) as n_bytes,
       cast(cast('0x' || substr(hex(b), 1, 2) as int) as bigint) as first_byte,
       cast({blob_head_sum("b")} as bigint) as head_sum
from pl
""",
    }
    sqls["q_ann_ivf_served"] = sqls["q_ann_ivf"]
    # transitive closure over the SAME verified pair set q_simhash_pairs
    # emits: component = min doc_id reachable through any pair chain
    sqls["q_dup_groups"] = f"""
with recursive pairs as materialized (
  select a, b from ({sqls["q_simhash_pairs"]})
),
nodes as (select a as doc from pairs union select b from pairs),
edges as (select a as u, b as v from pairs union select b, a from pairs),
reach (doc, r) as (
  select doc, doc from nodes
  union
  select e.u, reach.r from edges e join reach on reach.doc = e.v
)
select doc as doc_id, min(r) as component from reach group by doc
"""
    # embedding-space dup groups: the same recursive-CC shape over the
    # cosine-verified LSH pair SQL
    sqls["q_embed_dup_groups"] = f"""
with recursive pairs as materialized (
  select a, b from ({sqls["q_embed_neardup"]})
),
nodes as (select a as doc from pairs union select b from pairs),
edges as (select a as u, b as v from pairs union select b, a from pairs),
reach (doc, r) as (
  select doc, doc from nodes
  union
  select e.u, reach.r from edges e join reach on reach.doc = e.v
)
select doc as vec_id, min(r) as component from reach group by doc
"""
    # keep-best composes the q_dup_groups components with the q_quality
    # score — generated from the same simhash-pair SQL, so no drift
    sqls["q_dedup_best"] = f"""
with recursive pairs as materialized (
  select a, b from ({sqls["q_simhash_pairs"]})
),
nodes as (select a as doc from pairs union select b from pairs),
edges as (select a as u, b as v from pairs union select b, a from pairs),
reach (doc, r) as (
  select doc, doc from nodes
  union
  select e.u, reach.r from edges e join reach on reach.doc = e.v
),
comp as (select doc as doc_id, min(r) as group_id from reach group by doc),
elig as (select doc_id from documents where text is not null and text <> ''),
grp as (
  select doc_id, group_id from comp
  union all
  select e.doc_id, e.doc_id as group_id from elig e
  where e.doc_id not in (select doc_id from comp)
),
{_WRD},
agg as (
  select doc_id, count(*) as n_tokens, count(distinct word) as n_distinct
  from wrd group by doc_id
),
q as (
  select e.doc_id,
         least(coalesce(a.n_tokens, 0) / 50.0, 1.0)
           * (cast(coalesce(a.n_distinct, 0) as double)
              / greatest(coalesce(a.n_tokens, 0), 1)) as quality
  from elig e left join agg a on e.doc_id = a.doc_id
),
r as (
  select g.group_id, g.doc_id,
         count(*) over (partition by g.group_id) as group_size,
         row_number() over (partition by g.group_id
                            order by q.quality desc, g.doc_id) as rn
  from grp g join q on g.doc_id = q.doc_id
)
select group_id, doc_id as keep_doc_id, cast(group_size as bigint) as group_size
from r where rn = 1
"""

    # S2/T8 frontier: the oracle replays decode → anchored-regex cascade →
    # depth rule → dedup-minus-known in DuckDB. The decode is a chained
    # replace over the corpus's pinned escape vocabulary (%20, %D0%BF) —
    # DuckDB 1.0 has no url_decode; the vocabulary is fixed by _LNK_HTML.
    from searchengine_spark.functions.links import HREF_PATTERNS, site_link_patterns

    lnk_harvest = " || ".join(  # DuckDB || concatenates lists
        "regexp_extract_all(html, '{}', 1)".format(p.replace("'", "''"))
        for p in HREF_PATTERNS
    )
    lnk_match = " or ".join(
        f"regexp_matches(rel, '{p}')" for p in site_link_patterns("")
    )
    sqls["q_link_frontier"] = f"""
with pages as (
  select {_LNK_SITE} as site, {_LNK_DOMAIN} as domain,
         {_LNK_PATH} as path, {_LNK_HTML} as html
  from documents
),
hrefs as (
  select site, domain, path,
         replace(unnest({lnk_harvest}), '&amp;', '&') as href
  from pages
),
decoded as (
  select site, domain, path,
         case when contains(href, '%')
              then replace(replace(href, '%20', ' '), '%D0%BF', 'п')
              else href end as dhref
  from hrefs
),
rels as (
  select site, path,
         case when dhref not like 'http%' then dhref
              when strpos(dhref, domain) > 0
                then substr(dhref, strpos(dhref, domain) + length(domain))
              else '' end as rel
  from decoded
),
matched as (
  select site, path,
         case when {lnk_match} then rel else '' end as link
  from rels
),
kept as (
  select distinct site, link as path
  from matched
  where link <> path
    and length(link) - length(replace(link, '/', ''))
        >= length(path) - length(replace(path, '/', ''))
)
select k.site, k.path from kept k
where not exists (select 1 from pages p
                  where p.site = k.site and p.path = k.path)
"""
    sqls["q_url_decode"] = f"""
select doc_id,
       '/a+b/sp%20ace' || {_LNK_DID} || '/%D0%BF%D0%B0%2Fv%3D1' as href,
       replace(replace(replace(replace(replace(replace(
         '/a+b/sp%20ace' || {_LNK_DID} || '/%D0%BF%D0%B0%2Fv%3D1',
         '%20', ' '), '%D0%BF', 'п'), '%D0%B0', 'а'),
         '%2F', '/'), '%3D', '='), '+', ' ') as decoded
from documents
"""
    return sqls
