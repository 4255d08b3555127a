"""On-disk layout and declared schemas of the index tables, and cache
release by the writers.

Every partitioned table in ``catalog.TABLES`` keeps its declared partition
nesting and write order through a build and each late-data path. The
upsert's cell reads, the append fence's tail-only probes and the query
kernel's block scans prune on that order through parquet row-group min/max
stats. No build or mutation may leave a DataFrame in Spark's cache or an
RDD persisted. Every table's declared schema is what its files infer, so
reads and the searcher load launch no schema-inference job. The
``terms_global`` dictionary gives every indexed term one id.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from searchengine_spark.config import EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.operators.postings import term_bucket_py
from searchengine_spark.sources.catalog import TABLES, TableCatalog
from searchengine_spark.sources.transcripts import transcripts_spark_df
from tests.conftest import jobs_run


@pytest.fixture(scope="module")
def mutated(spark, tiny_pdf):
    """(warehouse, {step: (Spark's cache was empty after it, the RDDs it
    left persisted)}) after a build, an append that adds a site, an upsert,
    a compaction and an ANN index build."""
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
         for t in range(3)]
        + [("convzz-700001", 0, "user", "layoutword new site", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    assert step("append_turns", lambda: eng.append_turns(batch)) == 4
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


@pytest.mark.parametrize("table", sorted(n for n, t in TABLES.items() if t.parts))
def test_layout_on_disk(mutated, table):
    """Partition directories nest in the declared order, and every data
    file is non-decreasing in the write order's in-file columns."""
    wh, _ = mutated
    _, parts, order = TABLES[table]
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


def test_declared_schemas_match_files(spark, mutated):
    """Every table the build and the mutations wrote is declared, and its
    declared schema is what a parquet read infers from all of its files
    (``mergeSchema`` reads every footer): same column names, types and
    order. A catalog read returns that schema."""
    wh, _ = mutated
    cat = TableCatalog(spark, wh)
    written = sorted(
        d for d in os.listdir(wh) if os.path.isdir(os.path.join(wh, d))
    )
    assert written == sorted(TABLES)
    for name in written:
        inferred = (
            spark.read.option("mergeSchema", "true").parquet(cat.path(name)).schema
        )
        assert StructType.fromDDL(TABLES[name].schema) == inferred, name
        assert cat.read(name).schema == inferred, name


def test_term_dictionary_covers_index(spark, mutated):
    """After the build, the append, the upsert and the compaction, every
    term of ``postings_flat`` and of ``terms`` has exactly one
    ``terms_global`` row, in its term's bucket, and no two rows share a
    term id."""
    wh, _ = mutated
    cat = TableCatalog(spark, wh)
    dictionary = cat.read("terms_global").toPandas()
    assert not dictionary["term_id"].duplicated().any()
    rows = dictionary.groupby("term").size()
    nb = int(cat.read_meta()["term_buckets"])
    assert list(dictionary["bucket"]) == [term_bucket_py(t, nb) for t in dictionary["term"]]
    for table, indexed in (
        ("postings_flat", cat.read("postings_flat").filter(F.col("bucket") >= 0)),
        ("terms", cat.read("terms")),
    ):
        terms = {r["term"] for r in indexed.select("term").distinct().collect()}
        assert "layoutword" in terms, table
        assert {t: int(rows.get(t, 0)) for t in terms} == dict.fromkeys(terms, 1), table


def test_reads_and_searcher_load_run_no_inference_jobs(spark, mutated):
    """A catalog read runs no Spark job, and loading the searcher runs only
    its two collects (index_meta and sites)."""
    wh, _ = mutated
    cat = TableCatalog(spark, wh)
    for name in sorted(TABLES):
        assert jobs_run(spark, lambda: cat.read(name)) == 0, name
    assert jobs_run(spark, lambda: SearchEngine(spark, wh).searcher) <= 2
