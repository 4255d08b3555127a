"""Checkpoint/resume + incremental upsert tests (SURVEY §5.4, §2.4 M1/M3)."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)


@pytest.fixture(scope="module")
def small_corpus():
    pdf = generate_transcripts("tiny", seed=7)  # independent corpus
    return pdf


@pytest.fixture(scope="module")
def built(spark, small_corpus):
    wh = tempfile.mkdtemp(prefix="se_resume_")
    eng = SearchEngine(spark, wh)
    res = eng.build(transcripts_spark_df(spark, small_corpus))
    yield eng, res, wh
    shutil.rmtree(wh, ignore_errors=True)


def test_rerun_skips_committed_stages(spark, small_corpus, built):
    eng, first, wh = built
    assert first.stages_run, "first build must run stages"
    res2 = eng.build(transcripts_spark_df(spark, small_corpus))
    assert res2.stages_run == []
    assert set(res2.stages_skipped) == {"documents", "terms", "postings"}


def test_resume_after_partial_failure(spark, small_corpus, built):
    """Kill-and-resume: drop the postings stage output; a resumed build
    reruns only that stage and reproduces identical blocks
    (strictly stronger than the reference's restart-from-scratch,
    IndexingServiceImpl.java:52-65)."""
    eng, _, wh = built
    cat = eng.catalog
    before = (
        cat.read("postings")
        .orderBy("term", "shard", "min_doc")
        .select("term", "shard", "min_doc", "max_doc", "count")
        .toPandas()
    )
    cat.drop("postings")
    res = eng.build(transcripts_spark_df(spark, small_corpus))
    assert res.stages_run == ["postings"]
    assert set(res.stages_skipped) == {"documents", "terms"}
    after = (
        cat.read("postings")
        .orderBy("term", "shard", "min_doc")
        .select("term", "shard", "min_doc", "max_doc", "count")
        .toPandas()
    )
    assert before.equals(after)


def test_build_state_lineage(built):
    eng, res, _ = built
    st = eng.catalog.read("build_state")
    done = st.filter(F.col("status") == "DONE")
    stages = {r["stage"] for r in done.select("stage").distinct().collect()}
    assert {"documents", "terms", "postings"} <= stages
    # per-partition lineage rows exist with row counts
    parts = done.filter(
        (F.col("stage") == "documents") & (F.col("partition_id") >= 0)
    )
    assert parts.count() > 0
    total = done.filter(
        (F.col("stage") == "documents") & (F.col("partition_id") == -1)
    ).collect()[0]["rows"]
    assert total == res.n_docs


def test_metrics_recorded(built):
    eng, res, _ = built
    m = eng.catalog.read("metrics").toPandas()
    keys = set(zip(m["stage"], m["key"]))
    assert ("build", "turns_per_sec") in keys
    assert ("build", "postings_per_sec") in keys
    assert ("postings", "partition_skew") in keys
    assert res.metrics["turns_per_sec"] > 0


def test_incremental_reindex_matches_full_rebuild(spark, small_corpus, built):
    """M1: upsert one turn, then the modified engine must agree with the
    oracle built on the modified corpus (new text searchable, old not)."""
    eng, _, _ = built
    pdf = small_corpus.copy()
    # pick an existing eligible turn and rewrite it with a unique marker
    mask = pdf["text"].notna() & (pdf["text"] != "")
    row = pdf[mask].iloc[0]
    new_text = "uniquemarkerwordxyz spark data " + str(row["text"])
    pdf.loc[row.name, "text"] = new_text

    eng.reindex_turn(str(row["conv_id"]), int(row["turn_idx"]), new_text)
    oracle2 = OracleEngine().build(pdf)

    for q, mode in [
        ("uniquemarkerwordxyz", "reference"),
        ("uniquemarkerwordxyz", "bm25"),
        ("spark data", "bm25"),
    ]:
        page, count = eng.search(q, mode=mode, exact_count=True)
        opage, ocount = oracle2.search(q, mode=mode)
        assert count == ocount, (q, mode)
        assert list(page["doc_id"]) == list(opage["doc_id"]), (q, mode)
        np.testing.assert_allclose(page["score"], opage["score"], rtol=1e-6)


def test_incremental_new_turn_append(spark, small_corpus, built):
    """Appending a brand-new (conv_id, turn_idx) gets a fresh doc_id and is
    immediately searchable."""
    eng, _, _ = built
    n_before = eng.catalog.read("documents").count()
    doc_id = eng.reindex_turn("conv00-999999", 0, "brandnewturnword appears here")
    assert doc_id >= n_before
    page, count = eng.search("brandnewturnword")
    assert count == 1
    assert list(page["conv_id"]) == ["conv00-999999"]


def test_duplicate_input_keys_rejected(spark, small_corpus):
    """M4 (SURVEY §2.4): duplicated (conv_id, turn_idx) input rows must fail
    the build loudly, not collapse silently inside dense_rank."""
    import pandas as pd

    from searchengine_spark.operators.doc_ids import DuplicateKeysError

    pdf = small_corpus.copy()
    dup = pdf[pdf["text"].notna() & (pdf["text"] != "")].iloc[[0]]
    pdf = pd.concat([pdf, dup], ignore_index=True)
    wh = tempfile.mkdtemp(prefix="se_dup_")
    eng = SearchEngine(spark, wh)
    with pytest.raises(DuplicateKeysError):
        eng.build(transcripts_spark_df(spark, pdf))
    shutil.rmtree(wh, ignore_errors=True)


def test_statistics_status_lifecycle(built):
    """M5 parity: detailed rows carry status/statusTime/error
    (DetailedStatisticsItem.java:10-25) derived from build_state; a
    completed build reads INDEXED with a real timestamp."""
    eng, _, _ = built
    resp = eng.statistics()
    assert resp["result"] is True
    for d in resp["statistics"]["detailed"]:
        assert d["status"] == "INDEXED"
        assert d["statusTime"] > 0
        assert d["error"] == ""
    # build_state records the RUNNING marker before each stage's DONE
    st = eng.catalog.read("build_state").toPandas()
    running = st[(st["status"] == "RUNNING") & (st["partition_id"] == -1)]
    assert {"documents", "terms", "postings"} <= set(running["stage"])


def test_failed_build_status_and_metrics(spark, small_corpus, monkeypatch):
    """A failing stage records FAILED and flushes metrics for stages that
    completed before the failure. statistics() reports a first build that
    failed once its documents and terms exist, and a failed rebuild over a
    served index at once: the failure drops the engine's snapshot."""
    import importlib

    import pandas as pd

    from searchengine_spark.operators.doc_ids import DuplicateKeysError
    from searchengine_spark.plans.stats import build_status

    # the module, not the function the plans package re-exports under its name
    build_index = importlib.import_module("searchengine_spark.plans.build_index")

    pdf = small_corpus.copy()
    dup = pdf[pdf["text"].notna() & (pdf["text"] != "")].iloc[[0]]
    pdf = pd.concat([pdf, dup], ignore_index=True)
    wh = tempfile.mkdtemp(prefix="se_fail_")
    eng = SearchEngine(spark, wh)
    with pytest.raises(DuplicateKeysError):
        eng.build(transcripts_spark_df(spark, pdf))
    status, ts, err = build_status(eng.catalog.read("build_state"))
    assert status == "FAILED"
    assert "repeat" in err

    def boom(*a, **k):
        raise RuntimeError("postings encode failed")

    monkeypatch.setattr(build_index, "encode_posting_blocks", boom)
    with pytest.raises(RuntimeError, match="postings encode failed"):
        eng.build(transcripts_spark_df(spark, small_corpus))
    detailed = eng.statistics()["statistics"]["detailed"]
    assert sum(d["pages"] for d in detailed) > 0
    for d in detailed:
        assert d["status"] == "FAILED" and "postings encode" in d["error"]
    monkeypatch.undo()

    eng.build(transcripts_spark_df(spark, small_corpus))
    eng.search("hotalpha")  # a loaded searcher: statistics() memoizes under it
    assert {d["status"] for d in eng.statistics()["statistics"]["detailed"]} == {"INDEXED"}
    with pytest.raises(DuplicateKeysError):
        eng.build(transcripts_spark_df(spark, pdf), resume=False)
    for d in eng.statistics()["statistics"]["detailed"]:
        assert d["status"] == "FAILED" and "repeat" in d["error"]
    shutil.rmtree(wh, ignore_errors=True)


def test_incremental_partition_stability(spark, small_corpus):
    """M1 scale contract: an upsert rewrites ONLY the touched partitions —
    every file of every untouched partition of every table is byte-identical
    afterwards (the parquet emulation of Iceberg overwritePartitions)."""
    import hashlib
    import os

    from searchengine_spark.operators.postings import term_bucket_py

    wh = tempfile.mkdtemp(prefix="se_pstab_")
    eng = SearchEngine(spark, wh)
    eng.build(transcripts_spark_df(spark, small_corpus))

    def snapshot(table):
        out = {}
        root = os.path.join(wh, table)
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    tables = ["postings", "postings_flat", "documents", "terms", "terms_global"]
    before = {t: snapshot(t) for t in tables}

    mask = small_corpus["text"].notna() & (small_corpus["text"] != "")
    row = small_corpus[mask].iloc[1]
    new_text = "pstabmarker " + str(row["text"])
    doc_id = eng.reindex_turn(str(row["conv_id"]), int(row["turn_idx"]), new_text)

    meta = eng.catalog.read_meta()
    shard_size, nb = int(meta["shard_size"]), int(meta["term_buckets"])
    dshard = doc_id // shard_size
    dgrp = doc_id // int(meta["flat_group_docs"])
    flat = eng.catalog.read("postings_flat").filter(F.col("bucket") >= 0)
    affected_terms = {
        r["term"]
        for r in flat.filter(F.col("doc_id") == doc_id).select("term").collect()
    }
    # buckets that MAY legitimately change (new terms ∪ old terms ⊇ this,
    # but old == new ∪ removed; removed terms' buckets also change — compute
    # from the upsert text via the engine's own lemma counts)
    from searchengine_spark.functions.lemmatize import lemma_counts

    changeable_buckets = {
        term_bucket_py(t, nb)
        for t in affected_terms | set(lemma_counts(str(row["text"])))
    }

    after = {t: snapshot(t) for t in tables}
    changed = {
        t: {p for p in set(before[t]) | set(after[t])
            if before[t].get(p) != after[t].get(p)}
        for t in tables
    }
    for t in ["postings", "documents"]:
        for p in changed[t]:
            assert p == "_SUCCESS" or f"shard={dshard}" in p, (t, p)
    # flat rewrites are CELL-scoped: an affected term bucket (or the
    # doc_len marker bucket) AND the doc's own doc-range group — never a
    # whole bucket across groups (the round-2 scale-honesty gap)
    for p in changed["postings_flat"]:
        if p == "_SUCCESS":
            continue
        assert any(
            f"bucket={b}/" in p for b in changeable_buckets | {-1}
        ), ("postings_flat", p)
        assert f"sgrp={dgrp}/" in p, ("postings_flat", p)
    for t in ["terms", "terms_global"]:
        for p in changed[t]:
            assert p == "_SUCCESS" or any(
                f"bucket={b}" in p for b in changeable_buckets
            ), (t, p)
    # and the untouched partitions did NOT get rewritten: at least one
    # partition file survived byte-identical in every table
    for t in tables:
        untouched = set(before[t]) - changed[t] - {"_SUCCESS"}
        assert untouched, t
    shutil.rmtree(wh, ignore_errors=True)
