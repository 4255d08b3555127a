"""Unit tests for the training-data analysis operators (beyond the
entry-vs-DuckDB parity suite): invariants and the multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.analysis import ann, dedup, multimodal, textstats


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon zeta",        # exact dup of 0
                "alpha beta gamma delta epsilon eta",         # near dup of 0
                "totally different words entirely here now",
                "",                                            # ineligible
                None,                                          # ineligible
            ],
        }
    )
    return spark.createDataFrame(pdf, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "canonical_doc"] == 0 and out.loc[1, "is_dup"] == 1
    assert out.loc[0, "is_dup"] == 0
    assert out.loc[2, "is_dup"] == 0  # near-dup is NOT an exact dup
    assert 4 not in out.index and 5 not in out.index  # ineligible dropped


def _clustered_emb(spark, seed):
    """200 16-dim float vectors around 4 random centers (vec_id i in
    cluster i % 4)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((4, 16)) * 3
    vecs = [
        (centers[i % 4] + rng.standard_normal(16) * 0.2).astype("float32").tolist()
        for i in range(200)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(200), "embedding": vecs}),
        "vec_id long, embedding array<float>",
    )


@pytest.mark.parametrize(
    "op",
    ["exact_duplicates", "minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs",
     "lsh_bucket_pairs", "ivf_topk_small", "ivf_topk_large", "build_ivf_index",
     "connected_components"],
)
def test_operators_release_cache(spark, docs, tmp_path, op):
    """An operator unpersists what it persisted before it returns: Spark's
    CacheManager is empty and no new RDD stays persisted, with the result
    still readable."""
    from searchengine_spark.sources.catalog import TableCatalog

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    if op == "lsh_bucket_pairs":
        emb = spark.createDataFrame(
            [(i, [1.0, float(i % 2), 0.5]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        out = ann.lsh_bucket_pairs(emb, threshold=0.0)
    elif op == "ivf_topk_small":
        out = ann.ivf_topk(_clustered_emb(spark, 3), [0, 1], k=5, n_centroids=8)
    elif op == "ivf_topk_large":
        # |probes| × k = 100,200 > 10^5: a result too large to collect to
        # the driver must stay distributed and still release the projection
        out = ann.ivf_topk(
            _clustered_emb(spark, 3), list(range(200)), k=501, n_centroids=8
        )
    elif op == "build_ivf_index":
        cat = TableCatalog(spark, str(tmp_path / "annwh"))
        ann.build_ivf_index(_clustered_emb(spark, 3), cat, n_centroids=8)
        out = cat.read("ann_lists")
    elif op == "connected_components":
        # a chain plus an island: several rounds, each checkpointed
        out = dedup.connected_components(spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4), (7, 8)], "a long, b long"
        ))
    else:
        out = getattr(dedup, op)(docs)
    assert cache.isEmpty(), op
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before, op
    assert out.count() > 0, op


def test_jaccard_finds_near_dup_pair(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs["a"], pairs["b"])}
    assert (0, 1) in got          # identical: jaccard 1.0
    assert (0, 2) in got          # near dup: 3/5 shared trigrams
    assert all(a < b for a, b in got)
    j01 = float(pairs.set_index(["a", "b"]).loc[(0, 1), "jaccard"])
    assert j01 == 1.0


def test_minhash_lsh_candidates_superset_of_identical(docs):
    sigs = dedup.minhash_signatures(docs).toPandas().set_index("doc_id")
    # identical docs → identical signatures
    assert list(sigs.loc[0]) == list(sigs.loc[1])
    pairs = dedup.minhash_lsh_pairs(docs).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs["a"], pairs["b"])}
    assert (0, 1) in got  # identical signature → same bucket in every band


def test_simhash_identical_and_distant(docs):
    sh = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh.loc[0] == sh.loc[1]
    # near-dup hamming distance small, distant doc large(ish)
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(sh.loc[0], sh.loc[2]) <= ham(sh.loc[0], sh.loc[3])


def test_fingerprint_identity(docs):
    fp = textstats.fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert fp.loc[0] == fp.loc[1]
    assert len(fp) == 4  # eligible docs only


def test_ann_topk_self_similarity_excluded(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": range(5),
            "embedding": [
                [1.0, 0.0, 0.0], [0.99, 0.1, 0.0], [0.0, 1.0, 0.0],
                [0.0, 0.0, 1.0], [-1.0, 0.0, 0.0],
            ],
        }
    )
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    out = ann.cosine_topk(emb, probe_ids=[0], k=2).toPandas()
    assert list(out["vec_id"]) == [1, 2]  # nearest first, self excluded
    assert out["cosine"].iloc[0] > 0.99


def test_multimodal_plumbing(docs):
    payloads = multimodal.to_payload_table(docs)
    assert dict(payloads.dtypes)["payload"] == "binary"
    feats = multimodal.extract_features(payloads).toPandas().set_index("doc_id")
    assert len(feats) == 4
    assert feats.loc[0, "n_bytes"] == len("alpha beta gamma delta epsilon zeta")
    assert feats.loc[0, "first_byte"] == ord("a")
    assert feats.loc[0, "head_sum"] == sum(b"alpha be")


def test_multimodal_real_binary(docs):
    """Binary plumbing on actual non-UTF8 bytes: seeded md5-digest payloads
    with cycled media types survive the Arrow mapInPandas round trip."""
    import hashlib

    payloads = multimodal.synthetic_binary_payloads(docs)
    assert dict(payloads.dtypes)["payload"] == "binary"
    feats = (
        multimodal.extract_features(payloads).toPandas().set_index("doc_id")
    )
    for doc_id in feats.index:
        digest = hashlib.md5(str(doc_id).encode()).digest()
        assert feats.loc[doc_id, "n_bytes"] == 16
        assert feats.loc[doc_id, "first_byte"] == digest[0]
        assert feats.loc[doc_id, "head_sum"] == sum(digest[:8])
        assert feats.loc[doc_id, "media_type"] == \
            multimodal.MEDIA_TYPES[doc_id % 3]


def test_minhash_lsh_hot_bucket_linear(spark):
    """1k identical docs land in one band bucket in every band; star-pairing
    must emit O(n) pairs (n-1), not O(n²)/2 ≈ 500k."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "text": ["same boilerplate text everywhere"] * 1000,
            "source": ["s"] * 1000,
        }
    )
    docs = spark.createDataFrame(pdf)
    pairs = dedup.minhash_lsh_pairs(docs).toPandas()
    assert len(pairs) == 999  # every doc pairs with canonical doc 0 only
    assert set(pairs["a"]) == {0}


def test_lsh_embedding_hot_bucket_linear(spark):
    """1k identical embeddings share every LSH bucket; star-pairing bounds
    candidate pairs at n-1 per bucket (O(n) total across tables)."""
    import pandas as pd

    vec = [0.1, -0.2, 0.3] * 8  # dim 24
    pdf = pd.DataFrame({"vec_id": range(1000), "embedding": [vec] * 1000})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    pairs = ann.lsh_bucket_pairs(emb, threshold=0.5).toPandas()
    assert len(pairs) == 999
    assert set(pairs["a"]) == {0}
    assert (pairs["cosine"] == 1.0).all()


def test_lsh_buckets_seeded_and_multitable(spark):
    """Bucket assignment is deterministic (seeded hyperplanes), covers all
    tables, and n_bits controls the bucket-id range."""
    import pandas as pd

    rng_rows = [[(i % 7 - 3) * 0.1 + 0.01 * j for j in range(24)] for i in range(50)]
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": rng_rows})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    b1 = ann.lsh_sign_buckets(emb, n_bits=8, n_tables=2).toPandas()
    b2 = ann.lsh_sign_buckets(emb, n_bits=8, n_tables=2).toPandas()
    key = ["vec_id", "lsh_table"]
    assert b1.sort_values(key).reset_index(drop=True).equals(
        b2.sort_values(key).reset_index(drop=True)
    )
    assert set(b1["lsh_table"]) == {0, 1}
    assert b1["bucket"].between(0, 255).all()


def test_ivf_topk_recall_and_shape(spark):
    """IVF top-k: deterministic centroids, candidates only from probed
    inverted lists, high recall vs exact top-k on a clustered fixture."""
    emb = _clustered_emb(spark, 3)
    exact = ann.cosine_topk(emb, [0, 1], k=5).toPandas()
    approx = ann.ivf_topk(emb, [0, 1], k=5, n_centroids=8, nprobe=4).toPandas()
    assert len(approx) == 10
    assert set(approx["query_id"]) == {0, 1}
    # clustered data + nprobe=half the centroids → recall should be high
    for q in (0, 1):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(approx[approx["query_id"] == q]["vec_id"])
        assert len(e & a) >= 4, (q, e, a)
    # determinism
    again = ann.ivf_topk(emb, [0, 1], k=5, n_centroids=8, nprobe=4).toPandas()
    assert approx.equals(again)
    # Lloyd refinement must not lose recall vs the raw md5-ranked seed
    # quantizer (iters=0) on clustered data
    seed_only = ann.ivf_topk(
        emb, [0, 1], k=5, n_centroids=8, nprobe=4, iters=0
    ).toPandas()
    for q in (0, 1):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a2 = set(approx[approx["query_id"] == q]["vec_id"])
        a0 = set(seed_only[seed_only["query_id"] == q]["vec_id"])
        assert len(e & a2) >= len(e & a0), (q, e, a2, a0)
    # refined centroids: k rows, dim-width double components
    cents = ann.ivf_centroids(emb, n_centroids=8).toPandas()
    assert len(cents) == 8 and all(len(c) == 16 for c in cents["cvec"])


def test_ivf_index_serves_without_rebuild(spark, monkeypatch, tmp_path):
    """The persisted IVF path (VERDICT r3 #2): build_ivf_index writes
    ann_centroids + cid-partitioned ann_lists ONCE; ivf_topk_indexed then
    (a) returns results identical to the one-shot ivf_topk, (b) runs ZERO
    quantizer work per query (seed/Lloyd/assignment monkeypatched to
    explode), and (c) scans only the probed cids' list partitions."""
    from searchengine_spark.sources.catalog import TableCatalog

    emb = _clustered_emb(spark, 7)
    cat = TableCatalog(spark, str(tmp_path / "annwh"))
    info = ann.build_ivf_index(emb, cat, n_centroids=8)
    assert info == {"n_centroids": 8, "n_vectors": 200}

    oneshot = ann.ivf_topk(emb, [0, 1], k=5, n_centroids=8, nprobe=4).toPandas()

    # serving must never train or assign: make every build-path entry explode
    for fn in ("ivf_centroids", "ivf_seed_centroids", "_seed_rows",
               "_lloyd_rounds", "_nearest_cid", "_ivf_vecs", "_cents_literal"):
        monkeypatch.setattr(
            ann, fn,
            lambda *a, _fn=fn, **k: (_ for _ in ()).throw(
                AssertionError(f"serving path called {_fn}")
            ),
        )
    served = ann.ivf_topk_indexed(emb, cat, [0, 1], k=5, nprobe=4).toPandas()
    key = ["query_id", "rank"]
    assert served.sort_values(key).reset_index(drop=True).equals(
        oneshot.sort_values(key).reset_index(drop=True)
    )

    # partition pruning: the list scan's plan carries a cid partition filter
    lists = cat.read("ann_lists")
    cids = sorted(int(r["cid"]) for r in cat.read("ann_centroids").collect())[:2]
    plan = lists.filter(F.col("cid").isin(cids))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def test_event_windowed_counts(spark):
    import pandas as pd

    from searchengine_spark.analysis import events as ev

    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:50",
                 "2024-01-01 01:10", "2024-01-01 00:20"]
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 2],
            "event_type": ["click", "click", "view", "click"],
            "value": [1.0, 2.0, 4.0, 8.0],
        }
    )
    out = ev.windowed_counts(spark.createDataFrame(pdf), "1 hour").toPandas()
    key = out.set_index(
        [out["window_start"].astype(str), "event_type"]
    )["n_events"].to_dict()
    assert key[("2024-01-01 00:00:00", "click")] == 3
    assert key[("2024-01-01 01:00:00", "view")] == 1


def test_event_sessionize(spark):
    import pandas as pd

    from searchengine_spark.analysis import events as ev

    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10",   # session 0
                 "2024-01-01 01:30", "2024-01-01 01:40",   # session 1 (80m gap)
                 "2024-01-01 00:05"]                        # user 2, session 0
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 1, 2],
            "event_type": ["a"] * 5,
            "value": [0.0] * 5,
        }
    )
    out = ev.sessionize(spark.createDataFrame(pdf), gap_minutes=30).toPandas()
    u1 = out[out["user_id"] == 1].sort_values("session_id")
    # session_id is the session's start time in epoch µs (== start_us):
    # stable across streaming state eviction, unlike a per-user counter
    assert list(u1["session_id"]) == list(u1["start_us"])
    assert len(u1) == 2
    assert list(u1["n_events"]) == [2, 2]
    assert out[out["user_id"] == 2]["n_events"].iloc[0] == 1


def test_bpe_token_stats(spark):
    import pandas as pd

    from searchengine_spark.analysis import textstats as ts

    pdf = pd.DataFrame(
        {"doc_id": [0], "text": ["hello world42, цена 3.14!"], "source": ["s"]}
    )
    out = ts.bpe_token_stats(spark.createDataFrame(pdf)).toPandas().iloc[0]
    # tokens: hello | world | 42 | , | цена | 3 | . | 14 | !
    assert out["n_bpe_tokens"] == 9
    assert out["n_digit_tokens"] == 3
    assert out["n_punct_tokens"] == 3


def test_simhash_pairs_hamming_neighbors(spark):
    """Pigeonhole chunk join finds all pairs within the Hamming budget for
    identical/near-identical docs; star-pairing bounds bucket blowup."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon zeta",   # identical → d=0
                "alpha beta gamma delta epsilon eta",    # near → small d
                "completely different words entirely here now",
            ],
            "source": ["s"] * 4,
        }
    )
    docs = spark.createDataFrame(pdf)
    pairs = dedup.simhash_pairs(docs, bits=16, max_hamming=3).toPandas()
    got = {(int(a), int(b)): int(h) for a, b, h in
           zip(pairs["a"], pairs["b"], pairs["hamming"])}
    assert got.get((0, 1)) == 0  # identical docs: Hamming 0
    assert all(h <= 3 for h in got.values())
    # 1k identical docs: star-pairing emits n-1 pairs, not n²/2
    big = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1000),
                      "text": ["same text here"] * 1000,
                      "source": ["s"] * 1000})
    )
    bp = dedup.simhash_pairs(big, bits=16, max_hamming=3).toPandas()
    assert len(bp) == 999 and set(bp["a"]) == {0}


def test_star_pairing_plans_contain_no_window(spark, monkeypatch):
    """Round-3 hot-bucket physical fix: the candidate-pair generators must
    compile to groupBy + join (map-side partial min, hash-join fan-out) —
    NEVER min().over(Window.partitionBy(bucket)), which buffers a degenerate
    bucket in one task. Asserted on the optimized physical plans of every
    result the operators checkpoint (their returned frames read those
    files) and of the returned frame; pair results stay the identical star
    shape."""
    import pandas as pd

    computed = []

    def recording(df):
        computed.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpointed(df)

    checkpointed = dedup.checkpointed
    monkeypatch.setattr(dedup, "checkpointed", recording)

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(200),
                      "text": ["identical boilerplate text"] * 200})
    )
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50),
                      "embedding": [[1.0, 2.0, -1.0, 0.5] * 16] * 50})
    )
    plans = {
        "exact": dedup.exact_duplicates(docs),
        "minhash": dedup.minhash_lsh_pairs(docs),
        "simhash": dedup.simhash_pairs(docs, bits=16, max_hamming=3),
        "embed": ann.lsh_bucket_pairs(vecs, threshold=0.0, n_bits=8),
    }
    # one result each, plus simhash's star_pairs candidates
    assert len(computed) == 5
    for name, df in plans.items():
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in physical, name
    for physical in computed:
        assert "Window" not in physical
    # 200 identical docs > STAR_PAIRS_CAP → degenerate bucket, star shape
    mh = plans["minhash"].toPandas()
    assert len(mh) == 199 and set(mh["a"]) == {0}
    # 50 identical vectors ≤ STAR_PAIRS_CAP → exact all-pairs recall
    em = plans["embed"].toPandas()
    assert len(em) == 50 * 49 // 2


def test_verified_pair_recall_beyond_canonical_edges(spark):
    """Star-pairing alone emits only canonical–member edges, so a true pair
    neither member of which is the bucket canonical is silently lost from
    the verified output (worst case: the canonical is a false-positive
    collision and the whole group vanishes). The capped all-pairs candidate
    stage must emit it. Fixture (signatures probed empirically): three docs
    whose 16-bit SimHashes are mutually within hamming ≤ 3 and share chunk
    buckets with doc 0 as the only canonical — the (1, 2) pair exists only
    via all-pairs candidates."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "alpha beta gamma delta epsilon zeta eta theta",
                    "alpha beta gamma delta shared words here now",
                    "alpha beta gamma delta epsilon different tail words",
                ],
            }
        )
    )
    pairs = dedup.simhash_pairs(docs, bits=16, max_hamming=3).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs["a"], pairs["b"])}
    # hamming(0,1)=1, hamming(0,2)=2, hamming(1,2)=3 — ALL three pairs due
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (worst case for naive star-pairing connectivity)
    collapses to one component labeled by its min; disjoint islands keep
    separate labels; empty input yields an empty typed frame."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [10, 11, 12, 13, 50], "b": [11, 12, 13, 14, 51]})
    )
    out = (
        dedup.connected_components(pairs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(out["doc_id"]) == [10, 11, 12, 13, 14, 50, 51]
    assert list(out["component"]) == [10, 10, 10, 10, 10, 50, 50]

    empty = pairs.filter("a < 0")
    eout = dedup.connected_components(empty)
    assert eout.count() == 0
    assert [f.name for f in eout.schema.fields] == ["doc_id", "component"]


def test_connected_components_merges_cross_band_stars(spark):
    """Two stars sharing one member (the cross-band case the pair
    generators produce) merge into a single component."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"a": [1, 1, 1, 7, 7, 3], "b": [2, 3, 4, 8, 9, 7]}
        )  # star(1:{2,3,4}) + star(7:{8,9}) bridged by 3–7
    )
    out = dedup.connected_components(pairs).toPandas()
    assert set(out["component"]) == {1}
    assert set(out["doc_id"]) == {1, 2, 3, 4, 7, 8, 9}


def test_hash_split_stable_and_exhaustive(spark):
    pdf = pd.DataFrame({"doc_id": range(2000), "text": "x"})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    out = textstats.hash_split(docs).toPandas().set_index("doc_id")
    # every doc assigned exactly once, only known split names
    assert len(out) == 2000
    assert set(out["split"].unique()) <= {"train", "val", "test"}
    # weights roughly honored (hash is uniform; 2000 docs, generous band)
    frac = out["split"].value_counts(normalize=True)
    assert 0.85 <= frac["train"] <= 0.95
    assert 0.02 <= frac.get("val", 0) <= 0.09
    # growth stability: assignment over a subset is the restriction of the
    # full assignment (the property random sampling lacks)
    sub = textstats.hash_split(docs.filter("doc_id < 500")).toPandas()
    sub = sub.set_index("doc_id")
    assert (out.loc[sub.index, "split"] == sub["split"]).all()
    # a different salt re-draws the assignment
    other = textstats.hash_split(docs, salt="split-v2").toPandas()
    other = other.set_index("doc_id")
    assert (out["split"] != other["split"]).any()


def test_repetition_stats_hand_computed(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "a a a b",          # dup words 2/4, top 3/4, bigrams aa aa ab → dup 1/3
                "w x y z",          # no repetition at all
                "solo",             # single word: no bigrams → all-zero gram ratio
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    out = textstats.repetition_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "dup_word_ratio"] == pytest.approx(2 / 4)
    assert out.loc[0, "top_word_ratio"] == pytest.approx(3 / 4)
    assert out.loc[0, "dup_gram_ratio"] == pytest.approx(1 / 3)
    assert out.loc[1, "dup_word_ratio"] == 0.0
    assert out.loc[1, "top_word_ratio"] == pytest.approx(1 / 4)
    assert out.loc[1, "dup_gram_ratio"] == 0.0
    assert out.loc[2, "dup_word_ratio"] == 0.0
    assert out.loc[2, "top_word_ratio"] == 1.0
    assert out.loc[2, "dup_gram_ratio"] == 0.0


def test_decontaminate_flags_planted_overlap(spark):
    # 60 unique-text docs → hash-split them, then plant one eval doc's text
    # into a train doc and assert exactly that train doc is flagged.
    # letters-only suffixes (digits are token separators in WORD_SPLIT)
    def tag(i):
        return chr(ord("a") + i // 26) + chr(ord("a") + i % 26)

    base = {
        i: f"unique{tag(i)} alpha{tag(i)} beta{tag(i)} gamma{tag(i)} "
           f"delta{tag(i)} tail{tag(i)}"
        for i in range(60)
    }
    pdf = pd.DataFrame({"doc_id": list(base), "text": list(base.values())})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    sp = textstats.hash_split(docs).toPandas().set_index("doc_id")["split"]
    evals = [i for i in base if sp[i] in ("val", "test")]
    trains = [i for i in base if sp[i] == "train"]
    assert evals and trains, f"degenerate split: {sp.value_counts().to_dict()}"
    clean = textstats.decontaminate(docs).toPandas()
    assert len(clean) == 0  # unique texts: no cross-split trigram overlap
    planted = dict(base)
    planted[trains[0]] = base[evals[0]]  # copy eval text into a train doc
    pdf2 = pd.DataFrame({"doc_id": list(planted), "text": list(planted.values())})
    docs2 = spark.createDataFrame(pdf2, "doc_id long, text string")
    out = textstats.decontaminate(docs2).toPandas().set_index("doc_id")
    assert list(out.index) == [trains[0]]
    # the planted text has 6 words → 4 trigrams, all shared
    assert int(out.loc[trains[0], "n_shared_grams"]) == 4


SPAN13 = ("one two three four five six seven eight nine ten "
          "eleven twelve thirteen")


def test_decontaminate_n13_normalization_parity(spark):
    """The production n=13 contract: a shared 13-word span collides across
    splits regardless of case / punctuation / whitespace around and between
    the words (grams are built from the lowercased letters-only stream);
    a 12-word overlap does not. doc_ids 0-3 hash-split to train, 5 to val
    (pinned: H32(f'{id}:split-v1') % 10000 < 9000 ⇒ train)."""
    filler = " ".join(f"filler{c}{d}" for c in "abcd" for d in "efgh")
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 5],
            "text": [
                # train: span wrapped in punctuation, mixed case, odd spacing
                "Intro!  one, two; three four... five-six SEVEN eight "
                "nine — ten\televen (twelve) thirteen?? trailer",
                # train: the same 13 words but interrupted at position 12
                "one two three four five six seven eight nine ten eleven "
                "twelve interruption thirteen " + filler,
                # train: no overlap at all
                filler,
                # val: the span with its own punctuation/whitespace noise
                "one\ttwo  three,four five\nsix seven EIGHT nine (ten) "
                "eleven [twelve] thirteen",
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    out = textstats.decontaminate(docs, n=13).toPandas().set_index("doc_id")
    assert list(out.index) == [0]
    assert int(out.loc[0, "n_shared_grams"]) == 1
    assert out.loc[0, "sample_gram"] == SPAN13


def test_filter_corpus_reasons_and_partition(spark):
    """Composite filter: each doc gets exactly one reason (first failing
    threshold in precedence order); the summary partitions the corpus; the
    kept side preserves full input rows."""
    mk = textstats.EN_MARKERS  # 10 words, all 'English' by the marker rule
    dup_gram_text = " ".join(mk) + " " + " ".join(mk)  # every word 2x, but
    # 19 bigrams / 10 distinct → dup_gram 9/19 ≈ 0.47 > 0.30
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5, 6],
            "text": [
                "",                                       # empty
                None,                                     # empty
                "just five little words here",            # too_short
                " ".join(f"mot{c}{d}" for c in "abcde" for d in "fghi"),
                                                          # 20 tokens, 0 markers
                "the " * 29 + "the",                      # 30x same marker
                " ".join(["the"] * 10 + [f"w{c}{d}" for c in "ab"
                                         for d in "cdefghijkl"]),
                                                          # top 10/30 > 0.2
                dup_gram_text,                            # dup_grams
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    reasons = (
        textstats.corpus_filter_reasons(docs)
        .toPandas()
        .set_index("doc_id")["reason"]
    )
    assert len(reasons) == len(pdf)  # exactly one reason per doc
    assert reasons[0] == "empty" and reasons[1] == "empty"
    assert reasons[2] == "too_short"
    assert reasons[3] == "non_english"
    assert reasons[4] == "dup_words"   # precedence: dup_words before top_word
    assert reasons[5] == "top_word"    # dup 9/30=0.3 ok, top 10/30 trips
    assert reasons[6] == "dup_grams"

    kept, summary = textstats.filter_corpus(docs)
    sm = summary.toPandas().set_index("reason")["n_docs"]
    assert int(sm.sum()) == len(pdf)   # reasons partition the corpus
    assert "kept" not in sm.index and kept.count() == 0
    # a permissive threshold set keeps the clean doc; low_quality branch
    # fires when min_quality is raised above its score
    loose = {"require_lang": None, "min_tokens": 2}
    kept2, _ = textstats.filter_corpus(docs, loose)
    assert kept2.count() > 0 and kept2.columns == docs.columns
    strict = dict(loose, min_quality=1.1)
    r3 = textstats.corpus_filter_reasons(docs, strict).toPandas()
    assert set(r3[r3["doc_id"] == 3]["reason"]) == {"low_quality"}


def test_dedup_keep_best_picks_highest_quality(spark):
    # a 3-member near-dup group with a quality spread (a repeated-word copy
    # scores lower on lexical diversity), plus a singleton. The winner must
    # be the quality rule's pick, verified against quality_score directly
    # rather than assumed.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11, 12, 30],
            "text": [
                base + " alpha alpha alpha alpha",   # dup words → lower uniq
                base + " lambda",                    # diverse → higher score
                base + " alpha beta alpha beta",
                "unique words here entirely",        # singleton
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    # explicit pair set: the whole point under test is the grouping+pick,
    # not the simhash generator (covered elsewhere)
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [10, 11], "b": [11, 12]}), "a long, b long"
    )
    out = dedup.dedup_keep_best(docs, pairs=pairs).toPandas()
    by_group = out.set_index("group_id")
    assert set(by_group.index) == {10, 30}
    assert by_group.loc[10, "group_size"] == 3
    assert by_group.loc[30, "group_size"] == 1
    q = (
        textstats.quality_score(docs)
        .toPandas()
        .set_index("doc_id")["quality"]
    )
    expected = sorted([10, 11, 12], key=lambda d: (-q[d], d))[0]
    assert by_group.loc[10, "keep_doc_id"] == expected == 11
    # deterministic: re-run identical
    again = dedup.dedup_keep_best(docs, pairs=pairs).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("group_id").reset_index(drop=True),
        again.sort_values("group_id").reset_index(drop=True),
    )


def test_stratified_sample_deterministic_and_growth_stable(spark):
    en = "the cat is on the mat and it is warm in the sun of an old day"
    und = "zorblax quixotic vermillion substrate"
    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "text": [en if i % 2 == 0 else und for i in range(200)],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    out = textstats.stratified_sample(docs).toPandas().set_index("doc_id")
    assert set(out["stratum"]) == {"en", "und"}
    # deterministic: re-run is identical
    again = textstats.stratified_sample(docs).toPandas().set_index("doc_id")
    pd.testing.assert_frame_equal(out.sort_index(), again.sort_index())
    # growth-stable: a doc's fate is unchanged when the corpus doubles
    bigger = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(400),
                "text": [en if i % 2 == 0 else und for i in range(400)],
            }
        ),
        "doc_id long, text string",
    )
    out2 = textstats.stratified_sample(bigger).toPandas().set_index("doc_id")
    pd.testing.assert_frame_equal(
        out.sort_index(), out2.loc[out.index].sort_index()
    )
    # per-stratum rates roughly honored (hash-uniform; wide tolerance)
    en_rate = out2[out2.stratum == "en"]["sampled"].mean()
    und_rate = out2[out2.stratum == "und"]["sampled"].mean()
    assert 0.3 < en_rate < 0.7 and und_rate < 0.3
    # unknown strata drop: empty rate map keeps nothing
    none = textstats.stratified_sample(docs, rates=(("xx", 1.0),)).toPandas()
    assert none["sampled"].sum() == 0
    # changing the salt re-draws the assignment
    salted = textstats.stratified_sample(docs, salt="sample-v2").toPandas()
    assert (
        salted.set_index("doc_id")["sampled"] != out["sampled"]
    ).any()


def test_stratified_sample_rate_quantization_pinned(spark):
    """VERDICT r4 #9: rates quantize to multiples of 1/SPLIT_BUCKETS — the
    effective threshold of a rate is round(rate·SPLIT_BUCKETS) buckets, so
    0.33333 behaves exactly as 0.3333 and sub-quantum rates (< 0.5e-4 at
    the default 10_000) keep NOTHING."""
    en = "the cat is on the mat and it is warm in the sun of an old day"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(300), "text": [en] * 300}),
        "doc_id long, text string",
    )
    q = 1.0 / textstats.SPLIT_BUCKETS
    a = textstats.stratified_sample(docs, rates=(("en", 0.33333),)).toPandas()
    b = textstats.stratified_sample(docs, rates=(("en", 0.3333),)).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    c = textstats.stratified_sample(docs, rates=(("en", 0.3334),)).toPandas()
    # one quantum apart → thresholds differ by exactly one bucket
    assert (c["sampled"] >= a["sampled"]).all()
    # sub-quantum rate rounds to zero buckets: keeps nothing
    z = textstats.stratified_sample(docs, rates=(("en", q / 3),)).toPandas()
    assert z["sampled"].sum() == 0
