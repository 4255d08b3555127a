"""Skew handling, block geometry, and parallelism determinism
(SURVEY §5.4-5.5)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from searchengine_spark.functions.codec import varint_decode
from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.search import DOCLEN_TERM, SITE_TERM
from searchengine_spark.sources.transcripts import transcripts_spark_df


def test_hot_terms_split_across_shards(engine):
    """df≈N terms must be range-split into multiple doc-range shards — the
    'salted shuffle that explicitly splits skewed high-DF terms'
    (north_rule; SURVEY §4.3.3)."""
    blocks = engine.catalog.read("postings")
    hot = blocks.filter(F.col("term") == "hotalpha")
    n_shards = hot.select("shard").distinct().count()
    assert n_shards >= 2, "skewed term not split across shards"
    # shards are contiguous disjoint doc ranges
    rows = hot.groupBy("shard").agg(
        F.min("min_doc").alias("lo"), F.max("max_doc").alias("hi")
    ).orderBy("shard").collect()
    shard_size = engine.searcher.shard_size
    for r in rows:
        assert r["lo"] // shard_size == r["shard"]
        assert r["hi"] // shard_size == r["shard"]


def test_blocks_decode_to_flat_postings(engine):
    """Compressed blocks are a lossless re-encoding of the flat posting rows
    (the `search_index` analog), and both tables hold only the columns
    something reads (partition columns come last)."""
    postings = engine.catalog.read("postings")
    flat = engine.catalog.read("postings_flat")
    assert postings.columns == [
        "term", "min_doc", "max_doc", "count", "block_max_tf",
        "doc_gaps", "tfs", "shard",
    ]
    assert flat.columns == ["doc_id", "site", "term", "tf", "bucket", "sgrp"]
    blocks = postings.filter(~F.col("term").isin([DOCLEN_TERM, SITE_TERM]))
    for term in ["hotalpha", "поиск"]:
        brows = (
            blocks.filter(F.col("term") == term)
            .orderBy("shard", "min_doc")
            .collect()
        )
        ids, tfs = [], []
        for r in brows:
            g = varint_decode(bytes(r["doc_gaps"])).astype(np.int64)
            ids.append(np.cumsum(g))
            tfs.append(varint_decode(bytes(r["tfs"])).astype(np.int64))
            assert r["count"] == len(g) <= 128
        ids = np.concatenate(ids)
        tfs = np.concatenate(tfs)
        exp = (
            flat.filter(F.col("term") == term)
            .orderBy("doc_id")
            .select("doc_id", "tf")
            .toPandas()
        )
        np.testing.assert_array_equal(ids, exp["doc_id"].to_numpy(np.int64))
        np.testing.assert_array_equal(tfs, exp["tf"].to_numpy(np.int64))
        assert np.all(np.diff(ids) > 0)  # strictly increasing within a term


def test_block_metadata_bounds(engine):
    """Every block's metadata matches its decoded postings: block_max_tf is
    the exact max tf (the query kernel's WAND bound), min_doc/max_doc are
    the first/last doc ids and count is the posting count."""
    blocks = engine.catalog.read("postings").select(
        "term", "min_doc", "max_doc", "count", "block_max_tf", "doc_gaps", "tfs"
    ).collect()
    assert blocks
    for r in blocks:
        ids = np.cumsum(varint_decode(bytes(r["doc_gaps"])).astype(np.int64))
        tfs = varint_decode(bytes(r["tfs"])).astype(np.int64)
        assert len(ids) == len(tfs) == r["count"] > 0, r["term"]
        assert r["block_max_tf"] == tfs.max(), r["term"]
        assert (r["min_doc"], r["max_doc"]) == (ids[0], ids[-1]), r["term"]


def test_doc_id_assignment_parallelism_invariant(spark, tiny_pdf):
    """Identical doc ids at parallelism 2 vs 7 (determinism across cluster
    sizes — the N vs 4N reproducibility requirement)."""
    df = transcripts_spark_df(spark, tiny_pdf).filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    a = (
        assign_doc_ids(df, parallelism=2)
        .select("conv_id", "turn_idx", "doc_id")
        .orderBy("doc_id")
        .toPandas()
    )
    b = (
        assign_doc_ids(df, parallelism=7)
        .select("conv_id", "turn_idx", "doc_id")
        .orderBy("doc_id")
        .toPandas()
    )
    assert a.equals(b)


def test_wand_pruned_equals_exact(engine):
    """exact_count=False (full block-max WAND pruning) must return the same
    top-k page; only the total count may be a lower bound."""
    exact_page, exact_count = engine.searcher.search(
        "hotalpha hotbeta", mode="bm25", exact_count=True
    )
    pruned_page, pruned_count = engine.searcher.search(
        "hotalpha hotbeta", mode="bm25", exact_count=False
    )
    assert list(exact_page["doc_id"]) == list(pruned_page["doc_id"])
    np.testing.assert_allclose(exact_page["score"], pruned_page["score"], rtol=1e-9)
    assert pruned_count <= exact_count


def test_smj_id_join_path_matches_broadcast_path(spark, tiny_pdf, engine):
    """broadcast_ids_max=0 forces the >gate sort-merge path for BOTH
    doc-cardinality joins in stage_documents (id map ⋈ posting rows,
    ids ⋈ doc_len markers). The 10^12-doc plan must produce tables
    identical to the broadcast plan's — this is the branch a small-scale
    build never runs (and where a 15.5M-doc cluster build OOM'd when the
    planner broadcast a compressed-size-underestimated side)."""
    import shutil
    import tempfile

    from searchengine_spark.config import EngineConfig
    from searchengine_spark.engine import SearchEngine

    wh = tempfile.mkdtemp(prefix="se_wh_smj_")
    try:
        eng = SearchEngine(
            spark, wh, EngineConfig(docs_per_shard=256, broadcast_ids_max=0)
        )
        eng.build(transcripts_spark_df(spark, tiny_pdf))
        for table in ("documents", "postings"):
            cols = sorted(engine.catalog.read(table).columns)
            exp = (
                engine.catalog.read(table)
                .select(*cols).toPandas()
                .sort_values(cols).reset_index(drop=True)
            )
            got = (
                eng.catalog.read(table)
                .select(*cols).toPandas()
                .sort_values(cols).reset_index(drop=True)
            )
            assert got.equals(exp), f"{table} diverges on the SMJ path"
    finally:
        shutil.rmtree(wh, ignore_errors=True)
