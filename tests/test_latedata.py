"""Late-data crash-safety + scale-honesty tests (plans/incremental.py,
streaming/ingest.py, plans/compaction.py).

What the commit protocol must guarantee:
- a batch replayed after a crash at ANY point lands exactly once (fence +
  journal replay + per-bucket mut_seq stamps + meta-last commit), and so
  does a crashed batch that the next mutation completes;
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
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

import searchengine_spark.plans.incremental as inc_mod
from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)
from searchengine_spark.plans.incremental import upsert_turns
from searchengine_spark.streaming.ingest import append_turns
from tests.conftest import jobs_run, statistics_counts, term_totals


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
    """``corpus`` with each (conv_id, turn_idx, text) row's text: replaced
    where the key exists, appended as a new turn where it does not."""
    out = corpus.copy()
    new = []
    for c, t, x in rows:
        at = (out["conv_id"] == c) & (out["turn_idx"] == t)
        if at.any():
            out.loc[at, "text"] = x
        else:
            new.append((c, t, x))
    extra = pd.DataFrame(
        {
            "conv_id": [c for c, _, _ in new],
            "turn_idx": [t for _, t, _ in new],
            "role": "user",
            "text": [x for _, _, x in new],
            "tool": None,
            "ts": pd.Timestamp("2026-02-01"),
        }
    )
    return pd.concat([out, extra], ignore_index=True)


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
#: One upsert batch of every kind of key: it replaces two existing turns
#: (conv00-000000/1 holds the only uses of "nofuqapa" on its site), inserts
#: a turn into their shard (the fixture index has one) and a turn on a new
#: site, and repeats a key, whose latest row wins.
MIXED_ROWS = [
    ("conv00-000000", 1, "crashmarker replacedword hotalpha", "2026-02-01"),
    ("conv00-000050", 0, "crashmarker поиск запрос", "2026-02-01"),
    ("conv00-910001", 0, "loserword crashmarker", "2026-02-01"),
    ("conv00-910001", 0, "crashmarker hotalpha spark data", "2026-02-02"),
    ("convzz-910001", 0, "crashmarker newsiteword", "2026-02-01"),
]
MIXED_WINNERS = [(c, t, x) for c, t, x, _ in MIXED_ROWS if x != "loserword crashmarker"]
MIXED_QUERIES = CRASH_QUERIES + [
    ("nofuqapa", "reference"),
    ("replacedword", "bm25"),
    ("loserword", "reference"),
    ("newsiteword crashmarker", "bm25"),
]


def _mixed_batch(spark):
    return spark.createDataFrame(
        [(c, t, "user", x, None, datetime.fromisoformat(ts)) for c, t, x, ts in MIXED_ROWS],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def _dictionary_rows(eng, term):
    return eng.catalog.read("terms_global").filter(F.col("term") == term).count()


@pytest.fixture(scope="module")
def mixed_fresh(spark, corpus):
    """A fresh build of the corpus after MIXED_ROWS."""
    wh = tempfile.mkdtemp(prefix="se_mixed_fresh_")
    eng = SearchEngine(spark, wh)
    eng.build(transcripts_spark_df(spark, _with_rows(corpus, MIXED_WINNERS)))
    yield eng
    shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.parametrize("batch_kind", ["append", "mixed"])
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
    spark, corpus, monkeypatch, crash_attr, batch_kind, request
):
    """A crashed batch retried at the same epoch lands exactly once: an
    append of new turns, and an upsert batch of every kind of key
    (MIXED_ROWS), which must then equal the oracle and a fresh build."""
    eng, wh = _build(spark, corpus)
    if batch_kind == "append":
        batch, rows, queries, n = _late_batch(spark, CRASH_ROWS), CRASH_ROWS, CRASH_QUERIES, 2
        write = lambda: append_turns(spark, wh, batch, epoch=0)
    else:
        batch, rows, queries, n = _mixed_batch(spark), MIXED_WINNERS, MIXED_QUERIES, 4
        write = lambda: upsert_turns(spark, wh, batch, replace_existing=True, epoch=0)

    class Boom(RuntimeError):
        pass

    if crash_attr == "write_meta":
        monkeypatch.setattr(
            TableCatalog, "write_meta",
            lambda self, meta: (_ for _ in ()).throw(Boom("crash")),
        )
    else:
        monkeypatch.setattr(
            inc_mod, crash_attr,
            lambda *a, **k: (_ for _ in ()).throw(Boom("crash")),
        )
    with pytest.raises(Boom):
        write()
    monkeypatch.undo()

    # retry of the SAME epoch (foreachBatch replay semantics)
    assert write() == n
    # a second replay of the committed epoch is a no-op
    assert write() == 0

    eng._searcher = None
    _check_matches_rebuilt_oracle(eng, corpus, rows, queries)
    # term stats incremented exactly once (the double-increment trap)
    assert term_totals(eng)["crashmarker"][0] == len(rows)
    assert _dictionary_rows(eng, "crashmarker") == 1
    # counters committed exactly once
    meta = eng.catalog.read_meta()
    assert int(meta["n_docs"]) == eng.catalog.read("documents").count()
    if batch_kind == "mixed":
        fresh = request.getfixturevalue("mixed_fresh")
        assert term_totals(eng) == term_totals(fresh)
        assert "nofuqapa" not in term_totals(eng)
        assert statistics_counts(eng) == statistics_counts(fresh)
        for q, mode in queries:
            page, count = eng.search(q, mode=mode, exact_count=True)
            fpage, fcount = fresh.search(q, mode=mode, exact_count=True)
            assert count == fcount, (q, mode)
            assert list(page["conv_id"]) == list(fpage["conv_id"]), (q, mode)
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
    eng, wh = _build(spark, corpus, docs_per_shard=256)
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
    assert term_totals(eng)["noflatread"][0] == 1
    assert _dictionary_rows(eng, "noflatread") == 1
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


def test_crashed_append_then_upsert_lands_both(spark, corpus, monkeypatch):
    """A crashed append followed by an upsert, not by the append's retry:
    the upsert completes the journaled append before it claims the next
    mut_seq. Before one journal covered appends, the fence dropped the
    append's rows but its stamped term increments stayed, and the upsert,
    claiming the same mut_seq, skipped its own increments in those buckets:
    ``hazardword`` kept df 1 and ``upsertword`` had no terms row."""
    eng, wh = _build(spark, corpus)
    appended = ("conv00-990001", 0, "hazardword hotalpha")
    monkeypatch.setattr(
        inc_mod, "encode_posting_blocks",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        append_turns(spark, wh, _late_batch(spark, [appended]), epoch=0)
    monkeypatch.undo()
    replaced = ("conv00-000000", 0, "hazardword upsertword")
    eng.reindex_turn(*replaced)

    fresh = SearchEngine(spark, tempfile.mkdtemp(prefix="se_fresh_"))
    fresh.build(transcripts_spark_df(spark, _with_rows(corpus, [appended, replaced])))
    words = ("hazardword", "upsertword")
    assert {t: v for t, v in term_totals(eng).items() if t in words} == {
        t: v for t, v in term_totals(fresh).items() if t in words
    } != {}
    for q in words:
        assert eng.search(q)[1] == fresh.search(q)[1] > 0, q
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(fresh.warehouse, ignore_errors=True)


def test_engine_drops_searcher_after_every_mutation_call(spark, corpus, monkeypatch):
    """A mutation call that raised, or that wrote nothing itself, still
    drops the engine's searcher and statistics memo: the crashed upsert
    below replaced table files, and the append completed it."""
    eng, _ = _build(spark, corpus)
    eng.search("hotalpha")
    pages = lambda: sum(d["pages"] for d in eng.statistics()["statistics"]["detailed"])
    before = pages()
    monkeypatch.setattr(
        TableCatalog, "write_meta",
        lambda self, meta: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        eng.reindex_turn("convzz-980001", 0, "stalezword hotalpha")
    monkeypatch.undo()
    # an already-indexed key: the append completes the crashed upsert only
    assert eng.append_turns(_late_batch(spark, [("conv00-000000", 0, "hotalpha")])) == 0
    assert pages() == before + 1
    assert eng.search("stalezword")[1] == 1
    shutil.rmtree(eng.warehouse, ignore_errors=True)


def test_mutation_job_counts(spark, corpus):
    """Spark jobs per mutation: an append of two turns (one on a new site)
    at most 70, a one-turn upsert at most 39, and an upsert of 100 turns at
    most twice the one-turn count: one batched mutation, not 100."""
    eng, wh = _build(spark, corpus)
    batch = _late_batch(spark, [
        ("conv00-960001", 0, "jobword hotalpha"),
        ("convzz-960001", 0, "jobword newsite"),
    ])
    assert jobs_run(spark, lambda: eng.append_turns(batch)) <= 70
    one = jobs_run(spark, lambda: eng.reindex_turn("conv00-000007", 0, "jobword one"))
    assert one <= 39
    rows = corpus[corpus["text"].fillna("") != ""].iloc[100:200]
    hundred = _late_batch(spark, [
        (c, int(t), "jobword " + x)
        for c, t, x in zip(rows["conv_id"], rows["turn_idx"], rows["text"])
    ])
    n = []
    assert jobs_run(spark, lambda: n.append(eng.upsert_turns(hundred))) <= 2 * one
    assert n == [100]
    assert eng.search("jobword")[1] == 103
    shutil.rmtree(wh, ignore_errors=True)


def test_appended_doc_ids_are_dense_when_range_sampled(spark, corpus):
    """New keys get exactly max_doc_id+1 .. max_doc_id+n in key order, also
    for a batch large enough that the range partitioner samples it (with
    parallelism 2 it keeps ≤ 120 sampled keys) and would cut different
    boundaries if the range shuffle ran again for the numbering."""
    eng, wh = _build(spark, corpus, parallelism=2)
    base = int(eng.catalog.read_meta()["max_doc_id"])
    rows = [(f"conv00-97{i:04d}", 0, f"denseword w{i % 37}") for i in range(600)]
    assert eng.append_turns(_late_batch(spark, rows)) == 600
    got = (
        eng.catalog.read("documents").filter(F.col("doc_id") > base)
        .select("conv_id", "doc_id").toPandas().sort_values("conv_id")
    )
    assert list(got["conv_id"]) == [c for c, _, _ in rows]
    assert list(got["doc_id"]) == list(range(base + 1, base + 601))
    meta = eng.catalog.read_meta()
    assert int(meta["max_doc_id"]) == base + 600
    assert int(meta["n_docs"]) == eng.catalog.read("documents").count()
    assert eng.search("denseword")[1] == 600
    shutil.rmtree(wh, ignore_errors=True)


def test_turn_without_text_removes_it(spark, corpus):
    """An upsert whose winner has no text removes the key, as a fresh build
    of the corpus with that turn blank drops it: documents, term stats,
    search results and statistics match. A new key without text is not
    indexed."""
    eng, wh = _build(spark, corpus)
    # conv00-000000/1 holds its site's only uses of "nofuqapa"
    old = corpus[(corpus["conv_id"] == "conv00-000000") & (corpus["turn_idx"] == 1)]
    words = old["text"].iloc[0].split()[:3] + ["nofuqapa"]
    blanked = [("conv00-000000", 1, ""), ("conv00-000050", 0, "")]
    assert eng.reindex_turn(*blanked[0]) >= 0
    assert eng.upsert_turns(_late_batch(spark, blanked[1:])) == 1
    assert eng.reindex_turn("conv00-990009", 0, "") == -1

    fresh = SearchEngine(spark, tempfile.mkdtemp(prefix="se_fresh_"))
    fresh.build(transcripts_spark_df(spark, _with_rows(corpus, blanked)))
    assert term_totals(eng) == term_totals(fresh)
    assert "nofuqapa" not in term_totals(eng)
    assert statistics_counts(eng) == statistics_counts(fresh)
    keys = lambda e: sorted(
        (r["conv_id"], int(r["turn_idx"])) for r in e.catalog.read("documents").collect()
    )
    assert keys(eng) == keys(fresh)
    for k in ("n_docs", "sum_doc_len"):
        assert int(eng.catalog.read_meta()[k]) == int(fresh.catalog.read_meta()[k]), k
    for q in words:
        for mode in ("reference", "bm25"):
            page, count = eng.search(q, mode=mode, exact_count=True)
            fpage, fcount = fresh.search(q, mode=mode, exact_count=True)
            assert count == fcount, (q, mode)
            assert list(page["conv_id"]) == list(fpage["conv_id"]), (q, mode)
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(fresh.warehouse, ignore_errors=True)


def test_retry_without_epoch_returns_the_crashed_writes(spark, corpus, monkeypatch):
    """A crashed call retried without an epoch returns what the crashed
    attempt wrote (the doc id of a reindex_turn, the count of an append)
    once the recovery step has completed it, and commits no second
    mutation."""
    eng, wh = _build(spark, corpus)
    mut_seq = lambda: int(eng.catalog.read_meta()["mut_seq"])

    def crashing(target, attr):
        monkeypatch.setattr(
            target, attr, lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
        )

    doc_id = int(
        eng.catalog.read("documents")
        .filter((F.col("conv_id") == "conv00-000003") & (F.col("turn_idx") == 0))
        .first()["doc_id"]
    )
    seq = mut_seq()
    crashing(TableCatalog, "write_meta")
    with pytest.raises(RuntimeError, match="crash"):
        eng.reindex_turn("conv00-000003", 0, "retryword hotalpha")
    monkeypatch.undo()
    assert eng.reindex_turn("conv00-000003", 0, "retryword hotalpha") == doc_id
    assert mut_seq() == seq + 1

    batch = _late_batch(spark, [
        ("conv00-980001", 0, "retryword spark"),
        ("conv00-980002", 0, "retryword data"),
        ("conv00-000003", 0, "already indexed: dropped"),
    ])
    crashing(inc_mod, "encode_posting_blocks")
    with pytest.raises(RuntimeError, match="crash"):
        eng.append_turns(batch)
    monkeypatch.undo()
    assert eng.append_turns(batch) == 2
    assert mut_seq() == seq + 2
    assert eng.search("retryword")[1] == 3
    shutil.rmtree(wh, ignore_errors=True)
