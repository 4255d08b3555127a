"""Late-data crash-safety + scale-honesty tests (plans/latedata.py,
streaming/ingest.py, plans/compaction.py).

What round 3's commit protocol must guarantee:
- a micro-batch replayed after a crash at ANY point lands exactly once
  (fence + per-bucket mut_seq stamps + meta-last commit);
- an append reads ZERO postings_flat data files outside the recovery
  fence's tail cells (proved by corrupting every non-tail file);
- intra-batch duplicate keys collapse to a deterministic winner instead of
  wedging the stream;
- shard compaction restores fresh-build block geometry with identical
  query results.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

import searchengine_spark.streaming.ingest as ingest_mod
from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)
from searchengine_spark.streaming.ingest import append_turns
from tests.conftest import statistics_counts


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts("tiny", seed=23)


def _build(spark, corpus, **cfg_kw):
    wh = tempfile.mkdtemp(prefix="se_latedata_")
    eng = SearchEngine(spark, wh, EngineConfig(**cfg_kw))
    eng.build(transcripts_spark_df(spark, corpus))
    return eng, wh


def _late_batch(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", x, None, None) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def _with_rows(corpus, rows):
    extra = pd.DataFrame(
        {
            "conv_id": [c for c, _, _ in rows],
            "turn_idx": [t for _, t, _ in rows],
            "role": "user",
            "text": [x for _, _, x in rows],
            "tool": None,
            "ts": pd.Timestamp("2026-02-01"),
        }
    )
    return pd.concat([corpus, extra], ignore_index=True)


def _check_matches_rebuilt_oracle(eng, corpus, extra_rows, queries):
    oracle = OracleEngine().build(_with_rows(corpus, extra_rows))
    for q, mode in queries:
        page, count = eng.search(q, mode=mode, exact_count=True)
        opage, ocount = oracle.search(q, mode=mode)
        assert count == ocount, (q, mode)
        assert list(page["conv_id"]) == list(opage["conv_id"]), (q, mode)
    assert statistics_counts(eng) == oracle.statistics()["statistics"]


CRASH_QUERIES = [
    ("crashmarker", "reference"),
    ("crashmarker hotalpha", "bm25"),
    ("hotalpha", "bm25"),
]
CRASH_ROWS = [
    ("conv00-910001", 0, "crashmarker hotalpha spark data"),
    ("conv00-910002", 0, "crashmarker поиск запрос"),
]


@pytest.mark.parametrize(
    "crash_attr",
    [
        # crash just before the commit record (everything written, meta not)
        "write_meta",
        # crash after flat/docs appends, before the term increments
        "apply_term_deltas",
        # crash after the term increments, before the block append — the
        # retry must SKIP the already-stamped buckets (mut_seq guard) while
        # redoing the fenced doc-keyed appends
        "encode_posting_blocks",
    ],
)
def test_append_crash_then_retry_lands_exactly_once(
    spark, corpus, monkeypatch, crash_attr
):
    eng, wh = _build(spark, corpus)
    batch = _late_batch(spark, CRASH_ROWS)

    class Boom(RuntimeError):
        pass

    if crash_attr == "write_meta":
        monkeypatch.setattr(
            TableCatalog, "write_meta",
            lambda self, meta: (_ for _ in ()).throw(Boom("crash")),
        )
    else:
        orig = getattr(ingest_mod, crash_attr)
        monkeypatch.setattr(
            ingest_mod, crash_attr,
            lambda *a, **k: (_ for _ in ()).throw(Boom("crash")),
        )
    with pytest.raises(Boom):
        append_turns(spark, wh, batch, epoch=0)
    monkeypatch.undo()

    # retry of the SAME epoch (foreachBatch replay semantics)
    assert append_turns(spark, wh, batch, epoch=0) == 2
    # a second replay of the committed epoch is a no-op
    assert append_turns(spark, wh, batch, epoch=0) == 0

    eng._searcher = None
    _check_matches_rebuilt_oracle(eng, corpus, CRASH_ROWS, CRASH_QUERIES)
    # term stats incremented exactly once (the double-increment trap)
    tg = eng.catalog.read("terms_global").filter(F.col("term") == "crashmarker")
    assert [int(r["df_global"]) for r in tg.collect()] == [2]
    # counters committed exactly once
    meta = eng.catalog.read_meta()
    assert int(meta["n_docs"]) == eng.catalog.read("documents").count()
    shutil.rmtree(wh, ignore_errors=True)


def test_statistics_match_fresh_build_after_mutations(spark, corpus):
    """statistics() after an append that adds a site, an upsert that
    removes lemmas from a site, an upsert of a new key and a compaction
    equals a fresh build's: on the mutating engine, whose memo every
    mutation drops with the searcher, and on an engine reopened on the
    warehouse."""
    eng, wh = _build(spark, corpus)
    eng.search("hotalpha")
    eng.statistics()  # a memo under the loaded searcher: mutations drop it
    appended = [
        ("convzz-960001", 0, "zzsiteword hotalpha spark"),
        ("convzz-960002", 0, "zzotherword data window"),
    ]
    assert eng.append_turns(_late_batch(spark, appended)) == 2
    # zzsiteword leaves the index; hotalpha and spark leave site convzz only
    replaced = ("convzz-960001", 0, "zzotherword поиск")
    eng.reindex_turn(*replaced)
    inserted = ("convzz-960003", 0, "zznewkeyword hotalpha")
    eng.reindex_turn(*inserted)
    assert eng.compact_appended()

    final = _with_rows(corpus, [replaced, appended[1], inserted])
    fresh = SearchEngine(spark, tempfile.mkdtemp(prefix="se_fresh_"))
    fresh.build(transcripts_spark_df(spark, final))
    want = statistics_counts(fresh)
    assert want == OracleEngine().build(final).statistics()["statistics"]
    # twice under one searcher: statistics_counts edits the returned dicts,
    # which must not be the memo's
    eng.search("hotalpha")
    assert statistics_counts(eng) == statistics_counts(eng) == want
    assert statistics_counts(SearchEngine(spark, wh)) == want
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(fresh.warehouse, ignore_errors=True)


def test_intra_batch_duplicates_pick_deterministic_winner(spark, corpus):
    """ADVICE: duplicate (conv_id, turn_idx) rows inside one micro-batch
    (e.g. overlapping files in one trigger) must not wedge the stream —
    the latest-ts row wins, deterministically across replays."""
    eng, wh = _build(spark, corpus)
    from datetime import datetime

    rows = [
        ("conv00-920001", 0, "user", "dupword loserword", None,
         datetime(2026, 1, 1)),
        ("conv00-920001", 0, "user", "dupword winnerword", None,
         datetime(2026, 1, 2)),
    ]
    batch = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    assert append_turns(spark, wh, batch, epoch=0) == 1
    eng._searcher = None
    _, c_dup = eng.search("dupword")
    _, c_win = eng.search("winnerword")
    _, c_lose = eng.search("loserword")
    assert (c_dup, c_win, c_lose) == (1, 1, 0)
    # replay is a no-op
    assert append_turns(spark, wh, batch, epoch=0) == 0
    shutil.rmtree(wh, ignore_errors=True)


def test_append_reads_no_flat_files(spark, corpus):
    """The O(batch) read contract, proved physically: corrupt EVERY
    postings_flat data file outside the recovery fence's tail doc-range
    group — the append must still succeed (term stats advance by increment,
    never by re-aggregating flat), and must not rewrite any corrupted file."""
    # small shards → several doc-range groups at tiny scale, so a non-tail
    # set exists to corrupt
    eng, wh = _build(spark, corpus, docs_per_shard=256, max_flat_groups=4)
    meta = eng.catalog.read_meta()
    g0 = (int(meta["max_doc_id"]) + 1) // int(meta["flat_group_docs"])
    assert g0 >= 1, "fixture must span multiple doc-range groups"

    root = os.path.join(wh, "postings_flat")
    corrupted = []
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if "sgrp=" in rel and int(rel.split("sgrp=")[1].split(os.sep)[0]) >= g0:
            continue  # tail group: the fence may legitimately read it
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                with open(p, "wb") as fh:
                    fh.write(b"\x00corrupted: any read of this file fails")
                corrupted.append(p)
    assert corrupted, "no non-tail flat files to corrupt?"

    batch = _late_batch(
        spark, [("conv00-930001", 0, "noflatread hotalpha appears")]
    )
    assert append_turns(spark, wh, batch, epoch=0) == 1
    eng._searcher = None
    _, count = eng.search("noflatread")
    assert count == 1
    tg = eng.catalog.read("terms_global").filter(F.col("term") == "noflatread")
    assert [int(r["df_global"]) for r in tg.collect()] == [1]
    # corrupted files untouched (no rewrite happened either)
    for p in corrupted:
        with open(p, "rb") as fh:
            assert fh.read(10) == b"\x00corrupted"[:10]
    shutil.rmtree(wh, ignore_errors=True)


def test_compact_shard_restores_fresh_build_geometry(spark, corpus):
    """N small appends fragment the tail shard (≤1 underfilled block per
    (term, batch)); compact_shard must restore EXACTLY a fresh build's
    per-(term, shard) block counts with identical query results.
    Append conv_ids sort after every fixture conv, so the fresh build
    assigns the same doc ids."""
    eng, wh = _build(spark, corpus)
    extra_rows = [
        ("convzz-000001", 0, "compactword hotalpha spark"),
        ("convzz-000002", 0, "compactword data window"),
        ("convzz-000003", 0, "compactword поиск hotbeta"),
    ]
    for row in extra_rows:  # one batch each → maximal fragmentation
        assert eng.append_turns(_late_batch(spark, [row])) == 1

    before_page, before_count = eng.search("compactword hotalpha", mode="bm25")
    compacted = eng.compact_appended()
    assert compacted  # at least the tail shard was re-encoded
    after_page, after_count = eng.search("compactword hotalpha", mode="bm25")
    assert before_count == after_count
    assert list(before_page["conv_id"]) == list(after_page["conv_id"])

    # fresh build over the union corpus: identical ids → identical geometry
    extra = pd.DataFrame(
        {
            "conv_id": [c for c, _, _ in extra_rows],
            "turn_idx": [t for _, t, _ in extra_rows],
            "role": "user",
            "text": [x for _, _, x in extra_rows],
            "tool": None,
            "ts": pd.Timestamp("2026-02-01"),
        }
    )
    eng2, wh2 = SearchEngine(
        spark, tempfile.mkdtemp(prefix="se_fresh_")
    ), None
    eng2.build(
        transcripts_spark_df(
            spark, pd.concat([corpus, extra], ignore_index=True)
        )
    )
    counts = lambda e: {
        (r["term"], int(r["shard"])): int(r["n"])
        for r in e.catalog.read("postings")
        .groupBy("term", "shard").agg(F.count("*").alias("n")).collect()
    }
    assert counts(eng) == counts(eng2)
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(eng2.warehouse, ignore_errors=True)
