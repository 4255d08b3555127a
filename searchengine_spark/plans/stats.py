"""Statistics endpoint as DataFrame aggregates (SURVEY §2.4 M5).

Reproduces ``GET /api/statistics`` (``services/impl/StatisticsServiceImpl
.java:32-73``; response shape ``dto/StatisticsResponse.java:11-16``):
per site the page count and lemma count, totals summed, and the quirk
``total.indexing = (lemmas > 0)`` (:52). "Site" = corpus grouping,
"page" = indexed turn, "lemma" = distinct term on the site (SURVEY §1.4).

Detailed rows additionally carry the reference's status lifecycle fields
(``dto/statistics/DetailedStatisticsItem.java:10-25``): ``status`` ∈
INDEXING/INDEXED/FAILED (``model/Status.java:3-7``), ``statusTime`` (epoch
millis, ``StatisticsServiceImpl.java:42-51``) and ``error`` — derived from
the ``build_state`` checkpoint table (the engine builds the whole corpus in
one pipeline, so every site shares the build's status, the Spark analog of
per-site ``Site.status`` flips in ``indexing/IndexingThread.java:57,75-76``).

Only an index change can alter the answer, so ``SearchEngine.statistics``
keeps it per snapshot: it runs these aggregates and the status read once
under a loaded searcher and hands out copies until the searcher is dropped,
so it goes stale exactly when search does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: stages whose DONE marks the index complete (plans/build_index.py)
_BUILD_STAGES = {"documents", "terms", "postings"}

_STATUS_RANK = {"DONE": 2, "FAILED": 1, "RUNNING": 0}


def build_status(build_state: DataFrame | None) -> tuple[str, int, str]:
    """(status, statusTime epoch-millis, error) from the build_state table.

    Latest event per stage wins (same start: DONE > FAILED > RUNNING); the
    overall status is FAILED if any stage's latest event failed, INDEXED when
    all build stages are DONE, else INDEXING (reference lifecycle
    ``model/Site.java:21-27``).
    """
    if build_state is None:
        return "INDEXING", 0, ""
    rows = (
        build_state.filter(F.col("partition_id") == -1)
        .select("stage", "status", "started_ts", "finished_ts", "error")
        .collect()
    )
    latest: dict[str, tuple] = {}
    for r in rows:
        key = (float(r["started_ts"]), _STATUS_RANK.get(r["status"], 0))
        if r["stage"] not in latest or key > latest[r["stage"]][0]:
            latest[r["stage"]] = (key, r)
    if not latest:
        return "INDEXING", 0, ""
    ts = max(
        float(r["finished_ts"] or r["started_ts"]) for _, r in latest.values()
    )
    failed = [r for _, r in latest.values() if r["status"] == "FAILED"]
    if failed:
        return "FAILED", int(ts * 1000), failed[0]["error"] or ""
    done = {s for s, (_, r) in latest.items() if r["status"] == "DONE"}
    if _BUILD_STAGES <= done:
        return "INDEXED", int(ts * 1000), ""
    return "INDEXING", int(ts * 1000), ""


def statistics(
    documents: DataFrame,
    terms: DataFrame,
    build_state: DataFrame | None = None,
) -> dict:
    per_site = statistics_df(documents, terms).orderBy("site").collect()
    status, status_time, error = build_status(build_state)
    detailed = [
        {
            "site": r["site"],
            "pages": int(r["pages"]),
            "lemmas": int(r["lemmas"]),
            "status": status,
            "statusTime": status_time,
            "error": error,
        }
        for r in per_site
    ]
    total_lemmas = sum(d["lemmas"] for d in detailed)
    return {
        "result": True,
        "statistics": {
            "total": {
                "sites": len(detailed),
                "pages": sum(d["pages"] for d in detailed),
                "lemmas": total_lemmas,
                # quirk kept deliberately: StatisticsServiceImpl.java:52
                "indexing": total_lemmas > 0,
            },
            "detailed": detailed,
        },
    }


def statistics_df(documents: DataFrame, terms: DataFrame) -> DataFrame:
    """Per-site ``(site, pages, lemmas)`` rows as a DataFrame."""
    pages = documents.groupBy("site").agg(F.count("*").alias("pages"))
    lemmas = terms.groupBy("site").agg(F.countDistinct("term").alias("lemmas"))
    return pages.join(lemmas, "site", "left").fillna(0, subset=["lemmas"])
