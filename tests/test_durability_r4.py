"""Round-4 durability fixes (ADVICE r3):

- the streaming epoch watermark is scoped to the checkpoint run id, so a
  stream restarted against a FRESH checkpoint (epoch ids back at 0) does
  not silently drop batches;
- a crashed single-turn upsert retried at ANY crash point lands exactly
  once — old state comes from the write-ahead mutation_journal, never from
  half-rewritten tables;
- a crash INSIDE a partition swap (destination renamed aside, replacement
  not yet moved in) is repaired by recover_swaps before the retry reads
  committed state — the previously-unrecoverable empty-bucket window;
- a crashed upsert interleaved with a subsequent APPEND is completed first
  (otherwise the append would claim the same mut_seq and its term
  increments would be swallowed by the upsert's bucket stamps).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest

import searchengine_spark.plans.incremental as inc_mod
from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)
from searchengine_spark.streaming.ingest import append_turns
from tests.conftest import statistics_counts, term_totals


def _term_ids(e):
    """term → term_id from the ``terms_global`` dictionary."""
    return {
        r["term"]: int(r["term_id"])
        for r in e.catalog.read("terms_global").collect()
    }


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts("tiny", seed=41)


def _build(spark, corpus, **cfg_kw):
    wh = tempfile.mkdtemp(prefix="se_dur_")
    eng = SearchEngine(spark, wh, EngineConfig(**cfg_kw))
    eng.build(transcripts_spark_df(spark, corpus))
    return eng, wh


def _late_batch(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", x, None, None) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


class Boom(RuntimeError):
    pass


def test_fresh_checkpoint_restart_does_not_drop_batches(spark, corpus):
    """ADVICE medium (ingest.py:99): epoch ids restart at 0 with a new
    checkpoint; the run-id scope must process those batches instead of
    no-opping until the old high-water mark is exceeded."""
    eng, wh = _build(spark, corpus)
    b1 = _late_batch(spark, [("conv00-940001", 0, "runoneword hotalpha")])
    assert append_turns(spark, wh, b1, epoch=5, run_id=111) == 1
    # same run: replay of a committed epoch no-ops; lower epochs no-op
    assert append_turns(spark, wh, b1, epoch=5, run_id=111) == 0
    assert append_turns(spark, wh, b1, epoch=0, run_id=111) == 0
    # NEW run (fresh checkpoint): epoch 0 must land its genuinely new docs
    b2 = _late_batch(spark, [("conv00-940002", 0, "runtwoword hotalpha")])
    assert append_turns(spark, wh, b2, epoch=0, run_id=222) == 1
    # and the new run's committed epoch replays as a no-op
    assert append_turns(spark, wh, b2, epoch=0, run_id=222) == 0
    eng._searcher = None
    for q in ("runoneword", "runtwoword"):
        _, count = eng.search(q)
        assert count == 1, q
    shutil.rmtree(wh, ignore_errors=True)


def test_upsert_crash_then_retry_lands_exactly_once(spark, corpus, monkeypatch):
    """ADVICE medium (incremental.py:109): a retry of a crashed reindex_turn
    must apply the IDENTICAL mutation — old rows come from the journal, not
    from tables the crashed attempt already rewrote. Crash at three points
    over three docs, retry each, then compare term stats / documents /
    search results against a FRESH build of the final corpus."""
    eng, wh = _build(spark, corpus)
    cat = eng.catalog

    edits = [
        # (conv, turn, new text, crash point) — conv00-000000/0 exists in the
        # fixture; the others are brand-new inserts
        ("conv00-000000", 0, "journalalpha hotalpha replaced text entirely",
         "apply_term_deltas"),
        ("convzz-950001", 0, "journalbeta fresh insert crashing late",
         "encode_posting_blocks"),
        ("convzz-950002", 0, "journalgamma fresh insert crashing at commit",
         "write_meta"),
    ]
    for conv, turn, text, crash_attr in edits:
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
            eng.reindex_turn(conv, turn, text)
        monkeypatch.undo()
        eng.reindex_turn(conv, turn, text)  # retry completes from journal

    # fresh build over the edited corpus = ground truth
    edited = corpus.copy()
    edited.loc[
        (edited["conv_id"] == "conv00-000000") & (edited["turn_idx"] == 0),
        "text",
    ] = edits[0][2]
    extra = pd.DataFrame(
        {
            "conv_id": [e[0] for e in edits[1:]],
            "turn_idx": [e[1] for e in edits[1:]],
            "role": "user",
            "text": [e[2] for e in edits[1:]],
            "tool": None,
            "ts": pd.Timestamp("2026-02-01"),
        }
    )
    eng2 = SearchEngine(spark, tempfile.mkdtemp(prefix="se_dur_fresh_"))
    eng2.build(
        transcripts_spark_df(spark, pd.concat([edited, extra], ignore_index=True))
    )

    # ±increments exact, applied exactly once
    assert term_totals(eng) == term_totals(eng2)
    assert (
        cat.read("documents").count() == eng2.catalog.read("documents").count()
    )
    meta = cat.read_meta()
    assert int(meta["n_docs"]) == cat.read("documents").count()
    # statistics too: the convzz-950001 insert crashed after writing
    # sites, and its retry must count its page and lemmas once
    assert statistics_counts(eng) == statistics_counts(eng2)
    for q in ("journalalpha", "journalbeta hotalpha", "hotalpha"):
        page, count = eng.search(q, mode="bm25", exact_count=True)
        page2, count2 = eng2.search(q, mode="bm25", exact_count=True)
        assert count == count2, q
        assert list(page["conv_id"]) == list(page2["conv_id"]), q
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(eng2.warehouse, ignore_errors=True)


def test_crash_mid_partition_swap_recovers(spark, corpus, monkeypatch):
    """ADVICE medium (catalog.py:157): a crash in the swap window (old
    partition renamed aside, replacement not yet in) must not lose the
    bucket — the retry repairs it via recover_swaps and re-applies; every
    other term in the bucket survives, and keeps its dictionary id."""
    eng, wh = _build(spark, corpus)
    before = {t: df for t, (df, _) in term_totals(eng).items()}
    ids_before = _term_ids(eng)

    orig_swap = TableCatalog._swap_dir
    crashed = []

    def crashing_swap(self, src, dst):
        if "terms_global" in dst and not crashed:
            crashed.append(dst)
            old = dst + "__old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.isdir(dst):
                os.rename(dst, old)  # the mid-window state: dst ABSENT
            raise Boom("crash mid-swap")
        return orig_swap(self, src, dst)

    monkeypatch.setattr(TableCatalog, "_swap_dir", crashing_swap)
    batch = _late_batch(
        spark,
        [
            ("convzz-960001", 0, "swapword hotalpha data"),
            ("convzz-960002", 0, "swapword поиск окно"),
        ],
    )
    with pytest.raises(Boom):
        append_turns(spark, wh, batch, epoch=0)
    monkeypatch.undo()
    assert crashed, "the crashing swap never fired"

    # retry the same epoch: recover_all restores the bucket, fence drops the
    # orphan doc rows, increments apply exactly once
    assert append_turns(spark, wh, batch, epoch=0) == 2
    after = {t: df for t, (df, _) in term_totals(eng).items()}
    # no pre-existing term lost (the empty-bucket data-loss scenario)
    for t, df in before.items():
        assert after.get(t, 0) >= df, t
    assert after["swapword"] == 2
    ids_after = _term_ids(eng)
    for t, tid in ids_before.items():
        assert ids_after.get(t) == tid, t
    eng._searcher = None
    _, count = eng.search("swapword")
    assert count == 2
    shutil.rmtree(wh, ignore_errors=True)


def test_append_completes_crashed_upsert_first(spark, corpus, monkeypatch):
    """A crashed upsert followed by an APPEND (not an upsert retry): the
    append must complete the journaled mutation before claiming its
    mut_seq, or the upsert's bucket stamps would swallow the append's term
    increments."""
    eng, wh = _build(spark, corpus)
    monkeypatch.setattr(
        inc_mod, "encode_posting_blocks",
        lambda *a, **k: (_ for _ in ()).throw(Boom("crash")),
    )
    with pytest.raises(Boom):
        eng.reindex_turn("convzz-970001", 0, "pendingword hotalpha insert")
    monkeypatch.undo()

    batch = _late_batch(spark, [("convzz-970002", 0, "afterword hotalpha")])
    assert append_turns(spark, wh, batch, epoch=0) == 1
    eng._searcher = None
    # BOTH mutations landed exactly once
    for q, n in (("pendingword", 1), ("afterword", 1)):
        _, count = eng.search(q)
        assert count == n, q
    words = ("pendingword", "afterword")
    assert {t: v for t, v in term_totals(eng).items() if t in words} == {
        "pendingword": (1, 1), "afterword": (1, 1),
    }
    shutil.rmtree(wh, ignore_errors=True)
