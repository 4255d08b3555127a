"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these run over 10^12 docs):

- exact: one hash-shuffle on md5(text); canonical doc via min-over-group.
- MinHash: signatures are per-(doc, term) arithmetic over the portable H32
  (JVM expressions, map-side) + one groupBy(doc) with 16 min() aggregates —
  partial aggregation makes the shuffle carry 16 longs per doc, independent
  of doc length. LSH banding then shuffles (band, band_key) — candidate
  pairs only ever materialize within a bucket, never the n² cross join.
- SimHash: same shape — 16 signed sums per doc, bits from H32.
- n-gram Jaccard: the exact-verify step; restricted to candidate pairs from
  an inverted shingle index (join on shingle), never all-pairs. High-df
  shingles (shared by > max_df docs) are dropped before the pair join —
  the same skewed-key discipline as the posting build (SURVEY §4.3.3).

All hashes come from ``oracle.sqlgen`` so the DuckDB oracle evaluates
byte-identical SQL.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from searchengine_spark.analysis.textstats import (
    h32_col,
    quality_score,
    tokens_col,
    word_ngrams,
)
from searchengine_spark.oracle.sqlgen import MINHASH_P, _MINHASH_AB

N_MINHASH = 16
LSH_BANDS = 4  # 4 bands × 4 rows


STAR_PAIRS_CAP = 64  # buckets up to this size emit ALL pairs (exact recall)


@contextmanager
def persisted(df: DataFrame):
    """``df`` cached (MEMORY_AND_DISK) for the ``with`` body, unpersisted
    when the body exits. The cache holds a strong reference, so nothing
    else releases it. Anything built on the cached frame must be computed
    inside the body (:func:`checkpointed`); after the exit it would
    recompute the cached frame's whole lineage."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


def checkpointed(df: DataFrame) -> DataFrame:
    """``df`` computed now and written to the checkpoint directory; the
    returned frame reads those files, so the result stays distributed and
    outlives the caches it was computed from. Uses ``spark.checkpoint.dir``
    (shared storage on a cluster), else a temporary local directory removed
    when the process exits; with
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` (on in
    :func:`~searchengine_spark.session.get_spark`) the files go as soon as
    the result is garbage collected."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        d = tempfile.mkdtemp(prefix="spark-checkpoint-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        sc.setCheckpointDir(d)
    return df.checkpoint(eager=True)


def _unpin(df: DataFrame) -> None:
    """Unpersist the RDD a ``localCheckpoint`` frame reads:
    ``DataFrame.unpersist`` drops only CacheManager entries."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def star_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    all_pairs_cap: int = STAR_PAIRS_CAP,
) -> DataFrame:
    """(a, b), a < b: candidate pairs within each bucket.

    Buckets with ≤ ``all_pairs_cap`` members emit ALL m·(m−1)/2 pairs —
    exact LSH candidate semantics, so a downstream verify step (Hamming /
    cosine / Jaccard) sees every within-bucket pair and cannot lose a true
    near-dup pair whose bucket canonical happens to be a false-positive
    collision (the B–C-dropped-because-A-is-far failure mode of pure
    star-pairing). Corpus-wide cost is O(n · cap).

    Buckets LARGER than the cap are degenerate (m vectors agreeing on a
    full band at realistic band widths ⇒ overwhelmingly a boilerplate /
    identical-content group) and fall back to star-pairing: every member
    pairs with the bucket's canonical (min id), m−1 pairs, keeping pair
    output O(n) corpus-wide no matter how hot the bucket. For those buckets
    verified-pair recall is not complete — members far from the canonical
    but close to each other are not paired; connectivity through the
    canonical holds for candidates, not for verified survivors.

    Physical shape matters as much as the pair count: groupBy + join back,
    NOT ``min().over(Window.partitionBy(bucket))`` — the window form
    buffers each bucket in ONE task, so a degenerate 10^9-member bucket
    becomes a single-task straggler even though its output is O(m). The
    groupBy runs map-side partial min and the joins spread hot buckets
    across normal hash-join tasks."""
    # the bucketed frame is referenced four times below (stats, the
    # join-back, both sides of the small self-join); without a persist each
    # reference re-plans the ENTIRE upstream job (the corpus scan + the
    # signature shuffle for the LSH/MinHash/SimHash callers). The frame is
    # (id, bucket-key) rows — tiny next to the corpus — so one
    # MEMORY_AND_DISK copy trades O(1) small storage for 4× the dominant
    # cost. The pairs are checkpointed before the copy is released.
    with persisted(df) as df:
        stats = df.groupBy(*bucket_cols).agg(
            F.count("*").alias("_cnt"), F.min(id_col).alias("_canon")
        )
        member = df.join(stats, bucket_cols)
        small = member.filter(F.col("_cnt") <= all_pairs_cap)
        small_pairs = (
            small.select(*bucket_cols, F.col(id_col).alias("a"))
            .join(small.select(*bucket_cols, F.col(id_col).alias("b")), bucket_cols)
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        large_pairs = (
            member.filter(
                (F.col("_cnt") > all_pairs_cap) & (F.col(id_col) != F.col("_canon"))
            )
            .select(F.col("_canon").alias("a"), F.col(id_col).alias("b"))
        )
        return checkpointed(small_pairs.unionByName(large_pairs).distinct())


def _minhash_col(h, k):
    """h_k = (A_k·(H32 mod P) + B_k) mod P as Column arithmetic over a single
    shared H32 column — same formula the oracle SQL evaluates."""
    a, b = _MINHASH_AB[k]
    return (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """(doc_id, text_hash, canonical_doc, is_dup): canonical = min doc_id of
    the identical-text group; eligible docs only."""
    # referenced twice (canonical aggregate + join-back); persisting the
    # (doc_id, 32-char hash) projection avoids a second full-text corpus
    # scan + md5 pass
    with persisted(
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", F.md5("text").alias("text_hash"))
    ) as hashed:
        # groupBy+join, not min().over(window): a boilerplate hash group of
        # 10^9 docs would otherwise buffer in one window task (see star_pairs)
        canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("canonical_doc"))
        return checkpointed(
            hashed.join(canon, "text_hash").select(
                "doc_id",
                "text_hash",
                "canonical_doc",
                (F.col("doc_id") != F.col("canonical_doc")).cast("int").alias("is_dup"),
            )
        )


def keep_best_per_group(documents: DataFrame, groups: DataFrame) -> DataFrame:
    """(group_id, keep_doc_id, group_size): ONE representative per dup
    group — highest ``quality_score`` wins, lowest doc_id breaks ties, so
    the winner is deterministic under any partitioning. ``groups`` is any
    (doc_id, group_id) assignment (e.g. :func:`connected_components`).

    Scale shape: the quality aggregate's (doc_id, word) shuffle, then ONE
    hash shuffle on group_id with the winner picked by ``min_by`` over a
    (−quality, doc_id) struct — a groupBy aggregate with a map-side
    partial, no window, so even a 10^9-member boilerplate group never
    buffers in a single task."""
    q = quality_score(documents).select("doc_id", "quality")
    j = groups.join(q, "doc_id")
    pick = F.struct((-F.col("quality")).alias("nq"), F.col("doc_id").alias("d"))
    return j.groupBy("group_id").agg(
        F.min_by("doc_id", pick).alias("keep_doc_id"),
        F.count("*").alias("group_size"),
    )


def dedup_keep_best(documents: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Near-dup dedup, the step a training pipeline actually runs: group
    near-duplicates transitively (verified SimHash pairs →
    :func:`connected_components`; exact dups are Hamming-0 so they group
    too), then keep the best-quality member of each group — unlike exact
    dedup, group members differ in text here, so the quality rule picks a
    real winner, not a tiebreak. Eligible docs in no pair are their own
    singleton group, so the result covers the whole corpus: semi-join the
    corpus on keep_doc_id for the deduplicated rows."""
    if pairs is None:
        pairs = simhash_pairs(documents, bits=16, max_hamming=3)
    comp = connected_components(pairs.select("a", "b"))
    eligible = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select("doc_id")
    singles = eligible.join(comp, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    groups = comp.unionByName(singles).select(
        "doc_id", F.col("component").alias("group_id")
    )
    return keep_best_per_group(documents, groups)


def minhash_signatures(documents: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """(doc_id, s0..s{k-1}): k-permutation MinHash over the doc's distinct
    words.

    A doc's word set lives in its own row, so the whole signature is ONE
    in-row projection: H32 each distinct token once into an array, then take
    k ``array_min``s of affine transforms of that array — no (doc, word)
    explode, no distinct shuffle, no groupBy. Docs with zero letter tokens
    are absent, matching the previous aggregate-over-words shape; values are
    identical (same H32, same affine permutations, same min)."""
    ws = tokens_col()
    harr = F.transform(F.array_distinct(ws), lambda x: h32_col(x))
    return (
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", harr.alias("_h"))
        .filter(F.size("_h") > 0)
        .select(
            "doc_id",
            *[
                # arity-1 closure: a two-arg lambda would make transform()
                # bind the array index to the second parameter
                F.array_min(
                    F.transform(
                        F.col("_h"),
                        (lambda i: lambda h: _minhash_col(h, i))(i),
                    )
                ).alias(f"s{i}")
                for i in range(k)
            ],
        )
    )


def minhash_lsh_pairs(
    documents: DataFrame, k: int = N_MINHASH, bands: int = LSH_BANDS
) -> DataFrame:
    """Candidate near-dup pairs (a, b), a < b: docs agreeing on ALL rows of
    at least one band, paired within each band bucket by :func:`star_pairs`
    — every pair of a bucket of up to ``STAR_PAIRS_CAP`` members; in a
    larger one every member pairs with the bucket's canonical (min doc_id)
    only, m−1 pairs. This is the hot-bucket guard (same skewed-key
    discipline as ngram_jaccard_pairs' max_shingle_df): 10^6 identical
    boilerplate docs cost O(n) pairs, and duplicate groups stay connected
    through their canonical. Cross-band dedup is one distinct()."""
    rows = k // bands
    sigs = minhash_signatures(documents, k)
    # ONE pass over the signatures: every band's key is built in the same
    # projection and exploded. The previous unionByName-of-selects planned
    # the whole signature job (scan + (doc, word) shuffle + k-min aggregate)
    # once PER BAND — bands× the corpus work. Values are unchanged (same
    # band_key expressions), only the plan shape differs.
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"s{b * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bk"),
    ).select("doc_id", "_bk.band", "_bk.band_key")
    return star_pairs(banded, ["band", "band_key"], "doc_id")


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): tf-weighted sign aggregation of each word-hash bit.
    bit_i(doc) = 1 iff Σ_words tf·(2·bit_i(H32(word))−1) > 0.

    tf-weighting over distinct words equals a plain sum over token
    OCCURRENCES, so the whole signature is ONE in-row projection: hash the
    doc's own token array once, then per bit fold ±1 contributions with
    ``aggregate`` — no (doc, word) tf shuffle, no per-doc groupBy (the
    previous shape paid both, corpus-wide). Docs with zero letter tokens are
    absent, as before; values are identical."""
    ws = tokens_col()
    harr = F.transform(ws, lambda x: h32_col(x))
    base = (
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", harr.alias("_h"))
        .filter(F.size("_h") > 0)
    )

    def cbit(i: int):
        # bit_i from the element hash: (h >> i) & 1 == floor(h/2^i) % 2
        return F.aggregate(
            F.col("_h"),
            F.lit(0).cast("long"),
            (lambda i: lambda acc, h: acc + (F.shiftright(h, i) % 2) * 2 - 1)(i),
        )

    sig = None
    for i in range(bits):
        term = F.when(cbit(i) > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return base.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_pairs(
    documents: DataFrame, bits: int = 16, max_hamming: int = 3
) -> DataFrame:
    """(a, b, hamming): near-dup pairs whose SimHash signatures differ in at
    most ``max_hamming`` bits, a < b.

    Scale shape (the Hamming-neighbor search SimHash alone lacks): split
    the signature into ``max_hamming+1`` chunks — by pigeonhole, any pair
    within the Hamming budget agrees EXACTLY on ≥1 chunk — join on
    (chunk index, chunk value), pair within each bucket by
    :func:`star_pairs` (every pair up to ``STAR_PAIRS_CAP`` members, else
    each member with the canonical: the same hot-bucket guard as
    :func:`minhash_lsh_pairs`), then verify with
    ``bit_count(xor)``. Chunk width = bits/(max_hamming+1) controls bucket
    count: 64-bit signatures with d=3 give 16-bit chunks = 65k buckets per
    band; the 16-bit default is demo-width for the sf fixtures."""
    chunks = max_hamming + 1
    w = bits // chunks
    mask = (1 << w) - 1
    # sigs is referenced three times (chunk banding + both sides of the
    # verify join); one persisted (doc_id, long) copy keeps the simhash
    # job — corpus scan + two shuffles — from running three times
    with persisted(simhash(documents, bits)) as sigs:
        # ONE pass over the signatures (see minhash_lsh_pairs): the previous
        # per-chunk unionByName re-planned the whole simhash job (scan + two
        # shuffles) once per chunk. Same chunk-key expressions, same values.
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("band"),
                            (F.shiftright("simhash", c * w) % F.lit(mask + 1)).alias(
                                "key"
                            ),
                        )
                        for c in range(chunks)
                    ]
                )
            ).alias("_ck"),
        ).select("doc_id", "_ck.band", "_ck.key")
        cand = star_pairs(bands, ["band", "key"], "doc_id")
        sa = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("_sa"))
        sb = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("_sb"))
        return checkpointed(
            cand.join(sa, "a")
            .join(sb, "b")
            .select(
                "a",
                "b",
                F.bit_count(
                    F.col("_sa").bitwiseXOR(F.col("_sb"))
                ).cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """(a, b, jaccard): word-n-gram Jaccard similarity ≥ threshold, via an
    inverted shingle index (pairs only materialize for docs sharing a
    shingle). ``max_shingle_df`` drops near-universal shingles before the
    pair join — the skewed-key guard; exact Jaccard is unaffected for pairs
    that share at least one surviving shingle (verification then uses the
    full shingle sets)."""
    # distinct (doc_id, ngram) — referenced by the size aggregate, the df
    # filter, both sides of the candidate join, and both sides of the exact
    # re-verify: six re-plans of the tokenize+distinct job without a persist
    with persisted(word_ngrams(documents, n)) as grams:
        sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
        idx = grams
        if max_shingle_df is not None:
            rare = (
                grams.groupBy("ngram")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_shingle_df)
                .select("ngram")
            )
            idx = grams.join(rare, "ngram")
        a = idx.alias("a")
        b = idx.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.ngram") == F.col("b.ngram"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
            .agg(F.count("*").alias("inter_rare"))
        )
        # exact intersection over the FULL shingle sets for surviving pairs
        full = grams
        exact = (
            inter.join(full.alias("fa"), (F.col("a") == F.col("fa.doc_id")))
            .join(
                full.alias("fb"),
                (F.col("b") == F.col("fb.doc_id"))
                & (F.col("fa.ngram") == F.col("fb.ngram")),
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
        return checkpointed(
            exact.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
            .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
            .select(
                "a",
                "b",
                # raw ratio of exact ints — bit-identical across engines (IEEE
                # division), so NO rounding; rounding rationals risks half-rule
                # mismatches between engines
                (F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))).alias(
                    "jaccard"
                ),
            )
            .filter(F.col("jaccard") >= threshold)
        )


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(doc_id, component): connected components of the undirected pair
    graph, component = the group's min doc_id. The dup-GROUP operator that
    completes the pair generators: pairs from :func:`minhash_lsh_pairs` /
    :func:`simhash_pairs` / ann.lsh_bucket_pairs connect transitively
    (A≈B, B≈C ⇒ {A, B, C} is one group even when A–C was never emitted),
    and dedup keeps one doc per component.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log² n) rounds on any graph (not just the star-dominated graphs our
    pair generators emit), each round is two hash-shuffle aggregations, and
    the edge multiset never grows beyond O(E). Per round the plan lineage
    is truncated with localCheckpoint so the driver loop stays O(1) per
    round in planning cost (a cluster deployment with preemption would use
    reliable checkpointing instead); each round releases the checkpoint it
    supersedes, and the result is a reliable checkpoint, so no RDD stays
    persisted. Convergence = the edge set is stable across one large+small
    round; afterwards every surviving edge points node → its component
    root."""

    def large_star(e: DataFrame) -> DataFrame:
        # both directions; for each u: m = min(Γ(u) ∪ {u}); link every
        # strictly-larger neighbor to m
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct edges high → low; for each u: m = min of its smaller
        # neighbors ∪ {u}; link u and all those neighbors to m
        dn = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        m = dn.groupBy("u").agg(F.min("v").alias("m"))
        linked = dn.join(m, "u").select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        self_link = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return (
            linked.unionByName(self_link)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _signature(e: DataFrame):
        """(edge count, sum of per-edge hashes): one aggregate job. Both
        sides of the alternation emit DISTINCT edge sets, so set equality ⟺
        multiset equality, and an (n, Σhash) match across rounds certifies
        the fixpoint without the two exceptAll jobs the previous check ran
        (4 → 3 driver jobs per round)."""
        # cast each hash to decimal(20,0) (a long term would overflow: ANSI
        # mode raises ARITHMETIC_OVERFLOW on the second ~2^63-scale term);
        # Spark then widens the SUM to decimal(30,0) — 10 extra digits, per
        # DecimalPrecision's sum rule — so the aggregate itself can't
        # overflow below ~10^10 edges
        r = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(20,0)")).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    edges = (
        pairs.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    try:
        if edges.rdd.isEmpty():
            return pairs.sparkSession.createDataFrame(
                [], "doc_id long, component long"
            )
        sig = _signature(edges)
        converged = False
        for _ in range(max_iter):
            prev = edges
            try:
                edges = small_star(large_star(prev)).localCheckpoint()
                nxt_sig = _signature(edges)
                # exact confirmation, paid ONCE on the round the signature
                # first matches: both sides are distinct sets with equal
                # counts, so one-direction exceptAll emptiness ⟺ set
                # equality — closes the (astronomically small) cross-round
                # Σhash collision window that would falsely certify
                # convergence
                converged = nxt_sig == sig and edges.exceptAll(prev).isEmpty()
            finally:
                _unpin(prev)
            if converged:
                break
            sig = nxt_sig
        if not converged:
            # an unconverged edge multiset is not star-shaped; the (member,
            # root) labeling below would be silently wrong — fail loudly
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(pathological graph?); raise max_iter"
            )

        # fixpoint: every edge is (member, root). Roots label themselves.
        members = edges.select(
            F.col("a").alias("doc_id"), F.col("b").alias("component")
        )
        roots = edges.select(F.col("b").alias("doc_id")).distinct().select(
            "doc_id", F.col("doc_id").alias("component")
        )
        return checkpointed(members.unionByName(roots).distinct())
    finally:
        _unpin(edges)
