"""End-to-end golden tests: Spark engine vs the pandas oracle (SURVEY §5.2-3).

Rank- AND score-identity on the fixed reference query set in both scoring
modes, plus invariants: per-turn text equality, df/tf conservation,
query-order invariance, pagination consistency, statistics parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.search import EmptySearchQueryError
from searchengine_spark.sources.transcripts import transcripts_spark_df
from tests.conftest import REFERENCE_QUERIES


def assert_page_matches(page, opage, count, ocount, q, mode):
    assert count == ocount, f"{q!r} [{mode}] count {count} != oracle {ocount}"
    assert list(page["doc_id"]) == list(opage["doc_id"]), f"{q!r} [{mode}] rank"
    np.testing.assert_allclose(
        page["score"].to_numpy(float),
        opage["score"].to_numpy(float),
        rtol=1e-6,
        err_msg=f"{q!r} [{mode}] scores",
    )
    np.testing.assert_allclose(
        page["relevance"].to_numpy(float),
        opage["relevance"].to_numpy(float),
        rtol=1e-6,
    )


@pytest.mark.parametrize("mode", ["reference", "bm25"])
def test_reference_query_set_rank_identity(engine, oracle, mode):
    # exact_count=True (also the public-API default — reference
    # SearchResponse.count parity): COUNT parity with the oracle's full
    # disjunctive candidate count (the pruned opt-in path's count is a
    # documented lower bound — covered by test_pruned_optin below). A
    # limit of 0 returns no page but still the count.
    for q, limit in [(q, 20) for q in REFERENCE_QUERIES] + [("hotalpha", 0)]:
        page, count = engine.search(q, mode=mode, limit=limit)
        opage, ocount = oracle.search(q, mode=mode, limit=limit)
        assert_page_matches(page, opage, count, ocount, q, mode)


def test_pruned_optin_rank_identity(engine):
    """The pruned bm25 opt-in (block-max WAND, exact_count=False) must
    return the IDENTICAL ranking and scores as the full-decode path —
    pruning may only skip docs that provably can't reach the top-k — while
    its count is a lower bound between the page size and the exact
    candidate count (which is the public-API default)."""
    for q in REFERENCE_QUERIES:
        exact, ecount = engine.search(q, mode="bm25", exact_count=True)
        pruned, pcount = engine.search(q, mode="bm25", exact_count=False)
        assert list(pruned["doc_id"]) == list(exact["doc_id"]), q
        np.testing.assert_allclose(
            pruned["score"].to_numpy(float), exact["score"].to_numpy(float),
            rtol=1e-12,
        )
        assert len(pruned) <= pcount <= ecount, q


def test_site_filter(engine, oracle):
    # tiny fixture has one site: filtering on it == unfiltered; on a missing
    # site → empty (reference: unmatched site yields no candidates)
    page, count = engine.search("hotalpha", site="conv00")
    opage, ocount = oracle.search("hotalpha", site="conv00")
    assert_page_matches(page, opage, count, ocount, "hotalpha", "reference")
    page2, count2 = engine.search("hotalpha", site="nope")
    assert count2 == 0 and page2.empty


def test_empty_query_raises(engine, oracle):
    # SearchServiceImpl.java:42-45 → 400; stop-word-only query lemmatizes to ∅
    for q in ["", "   ", "the of and", "12345 !!!"]:
        with pytest.raises(EmptySearchQueryError):
            engine.search(q)
        with pytest.raises(Exception):
            oracle.search(q)


def test_pagination_is_slice_of_one_ranking(engine):
    # offset/limit slices of one ranking (SURVEY §5.3)
    full, count = engine.search("hotalpha", offset=0, limit=40)
    p1, _ = engine.search("hotalpha", offset=0, limit=20)
    p2, _ = engine.search("hotalpha", offset=20, limit=20)
    got = list(p1["doc_id"]) + list(p2["doc_id"])
    assert got == list(full["doc_id"])[:40]


def test_query_order_and_duplicates_invariant(engine):
    a, ca = engine.search("hotbeta hotgamma")
    b, cb = engine.search("hotgamma hotbeta hotgamma")
    assert ca == cb
    assert list(a["doc_id"]) == list(b["doc_id"])


def test_per_turn_text_equality(spark, tiny_pdf):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after ingest."""
    df = transcripts_spark_df(spark, tiny_pdf)
    back = (
        df.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = (
        tiny_pdf[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp["turn_idx"] = exp["turn_idx"].astype(back["turn_idx"].dtype)
    pd.testing.assert_frame_equal(back, exp)


def test_cached_parquet_ts_reads_back(spark, tiny_pdf, tmp_path):
    """The parquet copy written with ``cache_dir`` reads back every column,
    ``ts`` included, as the in-memory frame gives it."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    cached = transcripts_spark_df(spark, tiny_pdf, cache_dir=str(tmp_path))
    mem = transcripts_spark_df(spark, tiny_pdf)
    key = ["conv_id", "turn_idx"]
    got = cached.select(*cols).orderBy(*key).collect()
    assert got == mem.select(*cols).orderBy(*key).collect()
    assert got[0]["ts"] == tiny_pdf.sort_values(key)["ts"].iloc[0].to_pydatetime()


def test_conservation_invariants(engine, oracle):
    """Σ per-site df == per-term distinct docs; Σ tf == total lemma count of
    eligible turns (SURVEY §5.3)."""
    cat = engine.catalog
    flat = cat.read("postings_flat").filter(F.col("bucket") >= 0)
    terms = cat.read("terms")
    # df conservation
    df_from_flat = flat.groupBy("term", "site").agg(
        F.countDistinct("doc_id").alias("df2")
    )
    bad = (
        terms.join(df_from_flat, ["term", "site"])
        .filter(F.col("df") != F.col("df2"))
        .count()
    )
    assert bad == 0
    # tf conservation against the oracle's total token count
    total_tf = flat.agg(F.sum("tf")).collect()[0][0]
    assert int(total_tf) == int(oracle.postings["tf"].sum())
    # doc count
    assert cat.read("documents").count() == oracle.n_docs


def test_doc_ids_dense_and_ordered(engine, oracle):
    docs = engine.catalog.read("documents").orderBy("doc_id").toPandas()
    assert list(docs["doc_id"]) == list(range(len(docs)))
    # doc_id order == (conv_id, turn_idx) order
    keys = list(zip(docs["conv_id"], docs["turn_idx"]))
    assert keys == sorted(keys)
    # identical assignment to the oracle's
    pd.testing.assert_frame_equal(
        docs[["doc_id", "conv_id", "turn_idx"]].astype({"turn_idx": "int64"}),
        oracle.documents[["doc_id", "conv_id", "turn_idx"]].astype(
            {"doc_id": "int64", "turn_idx": "int64"}
        ),
    )


def test_statistics_match_oracle(engine, oracle):
    got = engine.statistics()
    # the oracle has no build_state: compare counts; the status-lifecycle
    # fields (status/statusTime/error) are asserted in
    # test_resume_incremental.test_statistics_status_lifecycle
    for d in got["statistics"]["detailed"]:
        for k in ("status", "statusTime", "error"):
            d.pop(k)
    assert got == oracle.statistics()


def test_search_response_shape(engine):
    """dto/SearchResponse.java:13-20 shape with snippets + titles."""
    resp = engine.search_response("hotalpha")
    assert resp["result"] is True and resp["count"] > 0
    item = resp["data"][0]
    assert set(item) == {"site", "siteName", "uri", "title", "snippet", "relevance"}
    assert "<b>" in item["snippet"]  # highlight present (P2)
    resp2 = engine.search_response("the of")
    assert resp2["result"] is False
