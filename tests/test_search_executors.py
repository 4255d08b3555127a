"""The shard kernel's two executors and the request predicates.

A query runs :func:`make_shard_kernel` on the driver over one Arrow scan of
its blocks, or in a ``groupBy("shard").applyInPandas`` job, depending on
its estimated postings against ``DRIVER_KERNEL_MAX_POSTINGS``. Forcing each
executor (gate 0 or unbounded) must give the same page, scores and count.
Request predicates are SQL strings built by ``sql_in``.
"""

from __future__ import annotations

import numpy as np
import pytest

import searchengine_spark.operators.search as S
from searchengine_spark.functions.lemmatize import query_lemmas
from tests.conftest import REFERENCE_QUERIES
from tests.test_entry_queries import duck  # noqa: F401 — fixture
from tests.test_entry_queries import test_query_matches_oracle as check_oracle_row

GATES = {"spark": 0, "driver": 10**18}


def run(engine, monkeypatch, executor, query, **kw):
    monkeypatch.setattr(S, "DRIVER_KERNEL_MAX_POSTINGS", GATES[executor])
    page, count = engine.search(query, **kw)
    return page, count, dict(engine.searcher.last_trace)


CASES = (
    [(q, {"mode": "reference"}) for q in REFERENCE_QUERIES]
    + [(q, {"mode": "bm25", "exact_count": True}) for q in REFERENCE_QUERIES]
    + [(q, {"mode": "bm25", "exact_count": False}) for q in REFERENCE_QUERIES]
    + [
        ("hotalpha", {"site": "conv00"}),
        ("hotalpha walking", {"site": "conv00", "mode": "bm25", "exact_count": True}),
        ("hotalpha", {"offset": 10**6}),  # a page past the last hit
        ("hotalpha", {"mode": "bm25", "offset": 10**6}),
        ("hotalpha", {"limit": 0}),  # no page, only the count
        ("hotalpha", {"mode": "bm25", "limit": 0}),
        ("hotalpha", {"site": "nope"}),  # short-circuits: no gated site
    ]
)


@pytest.mark.parametrize("query,kw", CASES, ids=[f"{q}|{kw}" for q, kw in CASES])
def test_executor_parity(engine, monkeypatch, query, kw):
    dp, dc, dt = run(engine, monkeypatch, "driver", query, **kw)
    sp, sc, st = run(engine, monkeypatch, "spark", query, **kw)
    assert dc == sc
    assert list(dp["doc_id"]) == list(sp["doc_id"])
    np.testing.assert_array_equal(
        dp["score"].to_numpy(float).round(S.SCORE_DECIMALS),
        sp["score"].to_numpy(float).round(S.SCORE_DECIMALS),
    )
    # None: the plan short-circuited (no gated site) before any scan
    assert (dt["executor"], st["executor"]) in {("driver", "spark"), (None, None)}
    if kw.get("site") == "nope":
        assert dt["executor"] is None and dc == 0
    assert dt["est_postings"] == st["est_postings"]


def test_estimate_above_gate_takes_spark_path(engine, monkeypatch):
    _, _, t = run(engine, monkeypatch, "driver", "hotalpha hotbeta", mode="bm25")
    est = t["est_postings"]
    monkeypatch.setattr(S, "DRIVER_KERNEL_MAX_POSTINGS", est)
    engine.search("hotalpha hotbeta", mode="bm25")
    assert engine.searcher.last_trace["executor"] == "driver"
    monkeypatch.setattr(S, "DRIVER_KERNEL_MAX_POSTINGS", est - 1)
    engine.search("hotalpha hotbeta", mode="bm25")
    assert engine.searcher.last_trace["executor"] == "spark"


def test_last_trace(engine, oracle, monkeypatch):
    """The trace names the executor and what the query read; the estimate
    is Σ global df of the lemmas plus n_docs for the doc-length blocks."""
    page, count, t = run(engine, monkeypatch, "driver", "hotalpha hotbeta", mode="bm25")
    assert set(t) == {"executor", "est_postings", "blocks", "shards", "candidates"}
    df = oracle.terms.groupby("term")["df"].sum()
    lemmas = query_lemmas("hotalpha hotbeta")
    assert t["est_postings"] == sum(int(df[l]) for l in lemmas) + oracle.n_docs
    assert t["blocks"] > 0 and t["shards"] > 1  # docs_per_shard=256
    assert t["candidates"] == count >= len(page)
    _, _, t = run(engine, monkeypatch, "spark", "hotalpha hotbeta", mode="bm25")
    assert (t["executor"], t["blocks"], t["shards"]) == ("spark", None, None)


@pytest.mark.parametrize("executor", sorted(GATES))
@pytest.mark.parametrize("name", ["q_search_ref", "q_search_bm25", "q_search_count"])
def test_search_oracle_rows(spark, duck, monkeypatch, executor, name):  # noqa: F811
    monkeypatch.setattr(S, "DRIVER_KERNEL_MAX_POSTINGS", GATES[executor])
    check_oracle_row(spark, duck, name)


def test_sql_literal():
    assert S.sql_literal("it's") == r"'it\'s'"
    assert S.sql_literal("a\\b") == r"'a\\b'"
    assert S.sql_literal("\\'") == r"'\\\''"
    assert S.sql_literal("привет") == "'привет'"
    assert S.sql_literal("#doc_len") == "'#doc_len'"
    assert S.sql_literal(np.int64(7)) == "7"
    assert S.sql_in("term", []) == "false"
    assert S.sql_in("term", ["a", "b"]) == "term IN ('a', 'b')"


def test_sql_in_round_trips_through_spark(spark):
    values = ["it's", "a\\b", "\\'", "привет", "ёлка", "#doc_len", "#site", "plain"]
    df = spark.createDataFrame([(v,) for v in values + ["other"]], "term string")
    assert sorted(r.term for r in df.filter(S.sql_in("term", values)).collect()) == sorted(values)
    assert df.filter(S.sql_in("term", [])).count() == 0
