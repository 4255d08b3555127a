"""Shared fixtures: one SparkSession, one built tiny index, one oracle.

Session-scoped so the whole suite pays Spark startup and the index build
once. Uses local[8] with shuffle partitions = 8 (SURVEY §5: local Spark,
`python -m pytest -x -q`).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from searchengine_spark.engine import SearchEngine
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.session import get_spark
from searchengine_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark_df,
)


@pytest.fixture(scope="session")
def spark():
    # the fixtures are a few thousand rows: a 2g heap runs the whole suite
    # (get_spark's 16g default is sized for benchmark-scale data)
    s = get_spark(
        app_name="tests", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "2g"},
    )
    yield s


@pytest.fixture(scope="session")
def tiny_pdf():
    return generate_transcripts("tiny")


@pytest.fixture(scope="session")
def oracle(tiny_pdf):
    return OracleEngine().build(tiny_pdf)


@pytest.fixture(scope="session")
def engine(spark, tiny_pdf):
    """SearchEngine with a fully built index over the tiny fixture.

    docs_per_shard=256 forces multiple doc-range shards at tiny scale so the
    skew-split path and multi-shard kernel merging are exercised (the
    default floor of 4096 would put the whole fixture in one shard)."""
    from searchengine_spark.config import EngineConfig

    wh = tempfile.mkdtemp(prefix="se_wh_")
    eng = SearchEngine(spark, wh, EngineConfig(docs_per_shard=256))
    eng.build(transcripts_spark_df(spark, tiny_pdf))
    yield eng
    shutil.rmtree(wh, ignore_errors=True)


from searchengine_spark.queryset import REFERENCE_QUERIES  # noqa: E402,F401 — re-exported for tests


def statistics_counts(eng) -> dict:
    """``eng.statistics()["statistics"]`` without the build-status fields,
    which the oracle lacks and which differ between two builds."""
    st = eng.statistics()["statistics"]
    for d in st["detailed"]:
        for k in ("status", "statusTime", "error"):
            d.pop(k)
    return st


def term_totals(eng) -> dict:
    """term → (Σ df, Σ cf) over the per-site ``terms`` rows: the index's
    global term statistics."""
    from pyspark.sql import functions as F

    return {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in eng.catalog.read("terms")
        .groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    }


def jobs_run(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted through a job group after the
    listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
