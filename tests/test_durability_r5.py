"""Round-5 durability fixes (ADVICE r4 + VERDICT r4):

- build_ivf_index installs ann_lists via the catalog's temp-dir + atomic
  swap, so a crash at ANY point of a rebuild leaves the previous IVF index
  fully servable (ADVICE r4 medium: the old write-to-final-path overwrite
  deleted the previous lists first, leaving surviving centroids pointing at
  partial/missing lists);
- SearchEngine.__init__ runs TableCatalog.recover_all, so a crashed
  process's ``*__old`` swap twins heal on the next COLD open with no
  operator calling the recovery API (VERDICT r4 #6);
- a warehouse older than the engine's meta format (an index_meta key or
  the sites ``lo``/``hi`` range missing) raises an explicit "index format
  too old" error instead of KeyError (VERDICT r4 #7).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.analysis import ann
from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.sources.catalog import TableCatalog, tiny_df
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)


class Boom(RuntimeError):
    pass


def _emb(spark, seed, n=200, dim=16):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((4, dim)) * 3
    vecs = [
        (centers[i % 4] + rng.standard_normal(dim) * 0.2)
        .astype("float32")
        .tolist()
        for i in range(n)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": vecs}),
        "vec_id long, embedding array<float>",
    )


def _served(engine, emb):
    return (
        engine.ann_topk(emb, [0, 1], k=5, nprobe=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_ivf_rebuild_crash_preserves_old_index(spark, monkeypatch):
    """ADVICE r4 medium (ann.py:575): a rebuild that dies (a) mid-lists-write
    or (b) inside the swap window must leave the PREVIOUS index servable —
    (b) requires only a cold engine reopen (recover_all in __init__)."""
    wh = tempfile.mkdtemp(prefix="se_ivfdur_")
    eng = SearchEngine(spark, wh)
    emb1, emb2 = _emb(spark, seed=7), _emb(spark, seed=11)
    eng.build_ann_index(emb1, n_centroids=8)
    baseline = _served(eng, emb1)

    # (a) crash AFTER the temp-dir write, BEFORE the swap: old dir untouched
    orig_swap = TableCatalog._swap_dir

    def crash_before(self, src, dst):
        if "ann_lists" in dst:
            raise Boom("crash pre-swap")
        return orig_swap(self, src, dst)

    monkeypatch.setattr(TableCatalog, "_swap_dir", crash_before)
    with pytest.raises(Boom):
        eng.build_ann_index(emb2, n_centroids=8)
    monkeypatch.undo()
    assert _served(eng, emb1).equals(baseline)

    # (b) crash INSIDE the swap window: dst renamed aside, replacement not in
    def crash_mid(self, src, dst):
        if "ann_lists" in dst:
            old = dst + "__old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.isdir(dst):
                os.rename(dst, old)
            raise Boom("crash mid-swap")
        return orig_swap(self, src, dst)

    monkeypatch.setattr(TableCatalog, "_swap_dir", crash_mid)
    with pytest.raises(Boom):
        eng.build_ann_index(emb2, n_centroids=8)
    monkeypatch.undo()
    assert not os.path.isdir(os.path.join(wh, "ann_lists"))  # the bad window
    cold = SearchEngine(spark, wh)  # __init__ heals the swap — no manual call
    assert _served(cold, emb1).equals(baseline)

    # retry completes and serves the NEW corpus, matching the one-shot path
    cold.build_ann_index(emb2, n_centroids=8)
    oneshot = (
        ann.ivf_topk(emb2, [0, 1], k=5, n_centroids=8, nprobe=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert _served(cold, emb2).equals(oneshot)
    shutil.rmtree(wh, ignore_errors=True)


def test_engine_cold_open_heals_crashed_swap(spark):
    """VERDICT r4 #6: a process that died inside a table swap leaves
    ``<table>__old`` with the final dir missing; the next SearchEngine
    open must serve queries with no recovery call from the operator."""
    wh = tempfile.mkdtemp(prefix="se_coldheal_")
    eng = SearchEngine(spark, wh, EngineConfig())
    eng.build(transcripts_spark_df(spark, generate_transcripts("tiny", seed=43)))
    ref_page, ref_count = eng.search("hotalpha", mode="bm25")

    # manufacture the exact mid-swap crash state on a table the searcher
    # reads at init (sites) and on a nested partition of a big table
    sites = os.path.join(wh, "sites")
    os.rename(sites, sites + "__old")
    tg = os.path.join(wh, "terms_global")
    part = next(
        os.path.join(tg, d) for d in sorted(os.listdir(tg))
        if "=" in d and os.path.isdir(os.path.join(tg, d))
    )
    os.rename(part, part + "__old")

    cold = SearchEngine(spark, wh)  # no manual recover_all
    page, count = cold.search("hotalpha", mode="bm25")
    assert count == ref_count
    assert list(page["conv_id"]) == list(ref_page["conv_id"])
    assert os.path.isdir(sites) and os.path.isdir(part)
    shutil.rmtree(wh, ignore_errors=True)


def test_legacy_warehouse_without_stream_run_processes_fresh_run(spark):
    """ADVICE r4 low (ingest.py:116): a pre-run-id warehouse (stream_epoch
    set, no stream_run) must treat a run_id-scoped append as a run MISMATCH
    — process the batch and stamp stream_run — instead of silently
    no-opping until the legacy epoch high-water mark is exceeded."""
    from searchengine_spark.streaming.ingest import append_turns

    wh = tempfile.mkdtemp(prefix="se_legacyrun_")
    eng = SearchEngine(spark, wh)
    eng.build(transcripts_spark_df(spark, generate_transcripts("tiny", seed=45)))
    cat = eng.catalog
    meta = cat.read_meta()
    meta["stream_epoch"] = 9  # legacy high-water mark, NO stream_run key
    meta.pop("stream_run", None)
    cat.write_meta(meta)

    batch = spark.createDataFrame(
        [("convzz-980001", 0, "user", "legacyrunword hotalpha", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    # epoch 0 < legacy mark 9; with run_id it must still process
    assert append_turns(spark, wh, batch, epoch=0, run_id=777) == 1
    # and the warehouse self-healed: the new run's epoch replays as a no-op
    assert append_turns(spark, wh, batch, epoch=0, run_id=777) == 0
    eng._searcher = None
    _, count = eng.search("legacyrunword")
    assert count == 1
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="module")
def built_wh(spark):
    wh = tempfile.mkdtemp(prefix="se_oldfmt_")
    SearchEngine(spark, wh).build(
        transcripts_spark_df(spark, generate_transcripts("tiny", seed=44))
    )
    yield wh
    shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.parametrize(
    "missing",
    [
        "shard_size", "n_docs", "sum_doc_len", "term_buckets",
        "flat_group_docs", "mut_seq", "sites.lo_hi",
    ],
)
def test_too_old_index_format_raises_explicit_error(spark, built_wh, missing):
    """VERDICT r4 #7: a warehouse from before the current meta format — an
    index_meta key the searcher or a mutation needs is absent, or the
    ``sites`` table has no ``lo``/``hi`` doc-id range — gets an explicit
    'index format too old' error naming what is missing, not a KeyError or
    a corpus-scan fallback. A streaming append raises it before writing."""
    from searchengine_spark.streaming.ingest import append_turns

    wh = os.path.join(tempfile.mkdtemp(prefix="se_oldfmt_"), "wh")
    shutil.copytree(built_wh, wh)
    cat = TableCatalog(spark, wh)
    if missing == "sites.lo_hi":
        sites = cat.read("sites").select("site", "sid").collect()
        cat.replace(
            tiny_df(spark, [(r["site"], int(r["sid"])) for r in sites],
                    "site string, sid long"),
            "sites",
        )
        match = "sites.lo, sites.hi"
    else:
        cat.write_meta(
            {k: v for k, v in cat.read_meta().items() if k != missing}
        )
        match = missing
    stale = SearchEngine(spark, wh)
    with pytest.raises(RuntimeError, match=f"index format too old: .*{match}"):
        stale.search("hotalpha")
    batch = spark.createDataFrame(
        [("convzz-990001", 0, "user", "oldformatword", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    with pytest.raises(RuntimeError, match=f"index format too old: .*{match}"):
        append_turns(spark, wh, batch)
    shutil.rmtree(os.path.dirname(wh), ignore_errors=True)
