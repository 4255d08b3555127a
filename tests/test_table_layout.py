"""On-disk layout of the index tables, and cache release by the writers.

Every table in ``catalog.LAYOUT`` keeps its declared partition nesting and
write order through a build and each late-data path. The upsert's cell
reads, the append fence's tail-only probes and the query kernel's block
scans prune on that order through parquet row-group min/max stats. No
build or mutation may leave a DataFrame in Spark's cache or an RDD
persisted.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest

from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.sources.catalog import LAYOUT
from searchengine_spark.sources.transcripts import transcripts_spark_df


@pytest.fixture(scope="module")
def mutated(spark, tiny_pdf):
    """(warehouse, {step: (Spark's cache was empty after it, the RDDs it
    left persisted)}) after a build, an append, an upsert, a compaction and
    an ANN index build."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    wh = tempfile.mkdtemp(prefix="se_layout_")
    eng = SearchEngine(spark, wh, EngineConfig(docs_per_shard=256))
    left = {}

    def step(name, write):
        before = persistent()
        out = write()
        left[name] = (cache.isEmpty(), persistent() - before)
        return out

    step("build", lambda: eng.build(transcripts_spark_df(spark, tiny_pdf)))
    batch = spark.createDataFrame(
        [("conv00-700001", t, "user", f"layoutword append turn {t}", None, None)
         for t in range(3)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    assert step("append_turns", lambda: eng.append_turns(batch)) == 3
    row = tiny_pdf[tiny_pdf["text"].fillna("") != ""].iloc[5]
    step("reindex_turn", lambda: eng.reindex_turn(
        row["conv_id"], int(row["turn_idx"]), "layoutword " + row["text"]
    ))
    assert step("compact_appended", eng.compact_appended)
    emb = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    eng.build_ann_index(emb, n_centroids=4)
    yield wh, left
    shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.parametrize("table", sorted(LAYOUT))
def test_layout_on_disk(mutated, table):
    """Partition directories nest in the declared order, and every data
    file is non-decreasing in the write order's in-file columns."""
    wh, _ = mutated
    parts, order = LAYOUT[table]
    root = os.path.join(wh, table)
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names
        if f.endswith(".parquet")
    ]
    assert files, table
    in_file = [c for c in order if c not in parts]
    for path in files:
        nesting = os.path.relpath(os.path.dirname(path), root).split(os.sep)
        assert [seg.split("=", 1)[0] for seg in nesting] == list(parts), path
        cols = pq.read_table(path, columns=in_file).to_pydict()
        keys = list(zip(*(cols[c] for c in in_file)))
        assert keys == sorted(keys), path


@pytest.mark.parametrize(
    "step", ["build", "append_turns", "reindex_turn", "compact_appended"]
)
def test_writers_release_cache(mutated, step):
    """Every DataFrame or RDD a writer persists is unpersisted before it
    returns."""
    _, left = mutated
    empty, rdds = left[step]
    assert empty, f"{step} left DataFrames in Spark's cache"
    assert not rdds, f"{step} left RDDs {sorted(rdds)} persisted"
