"""SearchEngine facade: the reference's four REST entry points as one class.

Maps the reference API surface (SURVEY §3) onto the Spark engine:

- ``GET /api/startIndexing``  → :meth:`SearchEngine.build`
  (``services/impl/IndexingServiceImpl.java:32-50``; "already running" guard
  becomes checkpoint/resume — reruns skip committed stages)
- ``GET /api/search``         → :meth:`SearchEngine.search`
  (``controllers/ApiController.java:54-68``)
- ``GET /api/statistics``     → :meth:`SearchEngine.statistics`
  (``controllers/ApiController.java:25-29``)
- ``POST /api/indexPage``     → :meth:`SearchEngine.reindex_turn`
  (``controllers/ApiController.java:45-52``); :meth:`SearchEngine.upsert_turns`
  re-indexes a batch of turns in one mutation

Response shapes mirror the reference DTOs (``dto/SearchResponse.java:13-20``,
``dto/search/DetailedSearchItem.java:10-24``): search returns
``{result, count, data:[{site, siteName, uri, title, snippet, relevance}]}``.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, SparkSession

from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.search import BlockSearcher, EmptySearchQueryError
from searchengine_spark.plans.build_index import BuildResult, build_index
from searchengine_spark.plans.incremental import reindex_turn as _reindex
from searchengine_spark.plans.incremental import upsert_turns as _upsert
from searchengine_spark.plans.stats import statistics as _statistics
from searchengine_spark.sources.catalog import TableCatalog, check_index_format

__all__ = ["SearchEngine", "EmptySearchQueryError"]


class SearchEngine:
    def __init__(self, spark: SparkSession, warehouse: str, cfg: EngineConfig | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.cfg = cfg or EngineConfig()
        self.catalog = TableCatalog(spark, warehouse)
        # heal crash-interrupted partition swaps from a previous process
        # BEFORE anything reads committed state: a crashed writer may have
        # left `*__old` twins (destination renamed aside, replacement not
        # yet in) that would otherwise read as missing partitions. Mutation
        # entry points repeat this themselves; doing it here means a
        # read-only reopen after a crash also serves correctly with no
        # operator knowing the recovery API exists.
        self.catalog.recover_all()
        self._searcher: BlockSearcher | None = None
        # statistics() memo: (the searcher it was computed under, response).
        # It holds only while that searcher is current, so it is dropped
        # wherever _searcher is
        self._stats: tuple[BlockSearcher | None, dict] | None = None
        self._transcripts: DataFrame | None = None

    # ---- /api/startIndexing -------------------------------------------------
    def build(self, transcripts: DataFrame, resume: bool = True) -> BuildResult:
        self._transcripts = transcripts
        return self._mutate(
            build_index, self.spark, transcripts, self.warehouse, self.cfg, resume=resume
        )

    def _mutate(self, write, *args, **kw):
        """``write(*args, **kw)``, then drop the searcher (and with it the
        statistics memo) to reload lazily — also when the write raised or
        wrote nothing: a failed build's status must show, and a write that
        failed, or completed a crashed mutation, may have changed tables."""
        try:
            return write(*args, **kw)
        finally:
            self._searcher = None

    # ---- searcher lifecycle --------------------------------------------------
    @property
    def searcher(self) -> BlockSearcher:
        if self._searcher is None:
            cat = self.catalog
            # init reads only index_meta + sites (both tiny): corpus stats
            # are maintained counters, site ranges live in the sites table —
            # NO corpus-sized job runs before the first query
            meta = cat.read_meta()
            site_rows = cat.read("sites").collect()
            check_index_format(meta, site_rows)
            n_docs = int(meta["n_docs"])
            self._searcher = BlockSearcher(
                blocks=cat.read("postings"),
                documents=cat.read("documents"),
                terms=cat.read("terms"),
                cfg=self.cfg,
                transcripts=self._transcripts,
                n_docs=n_docs,
                avgdl=meta["sum_doc_len"] / n_docs if n_docs else 0.0,
                site_ranges={
                    r["site"]: (int(r["lo"]), int(r["hi"])) for r in site_rows
                },
                site_ids={r["site"]: int(r["sid"]) for r in site_rows},
                shard_size=int(meta["shard_size"]),
                term_buckets=int(meta["term_buckets"]),
            )
        return self._searcher

    # ---- /api/search ---------------------------------------------------------
    def search(
        self,
        query: str,
        site: str | None = None,
        offset: int | None = None,
        limit: int | None = None,
        mode: str = "reference",
        with_snippets: bool = False,
        exact_count: bool = True,
    ):
        """Returns (page: pandas DataFrame, total candidate count).

        The PUBLIC default is ``exact_count=True``: the returned count is
        the exact candidate count, matching the reference's
        ``SearchResponse.count`` semantics (ApiController.java:59-64) for
        existing API consumers. Ranking is block-max WAND either way (the
        top-k page is identical); ``exact_count=False`` is the
        performance opt-in that lets WAND also skip the count decode and
        return a documented lower bound ≥ the page size — the right choice
        for latency-sensitive serving where the count is cosmetic. The
        internal :class:`BlockSearcher` keeps the pruned default; only this
        public wrapper pins parity."""
        return self.searcher.search(
            query, site=site, offset=offset, limit=limit, mode=mode,
            with_snippets=with_snippets, exact_count=exact_count,
        )

    def search_response(self, query: str, **kw) -> dict:
        """SearchResponse-shaped dict (dto/SearchResponse.java:13-20)."""
        try:
            page, count = self.search(query, with_snippets=True, **kw)
        except EmptySearchQueryError:
            return {"result": False, "error": "Задан пустой поисковый запрос"}
        data = [
            {
                "site": r["site"],
                "siteName": r["site"],
                "uri": f"{r['conv_id']}/{r['turn_idx']}",
                "title": r.get("title", f"{r['conv_id']}#{r['turn_idx']}"),
                "snippet": r.get("snippet", ""),
                "relevance": float(r["relevance"]),
            }
            for _, r in page.iterrows()
        ]
        return {"result": True, "count": int(count), "data": data}

    # ---- /api/statistics -------------------------------------------------------
    def statistics(self) -> dict:
        """StatisticsResponse-shaped dict (dto/StatisticsResponse.java:11-16).
        Aggregated once per loaded searcher; each call returns a copy."""
        snap = self._searcher
        if snap is None or self._stats is None or self._stats[0] is not snap:
            cat = self.catalog
            state = cat.read("build_state") if cat.exists("build_state") else None
            self._stats = (
                snap, _statistics(cat.read("documents"), cat.read("terms"), state)
            )
        return copy.deepcopy(self._stats[1])

    # ---- POST /api/indexPage ----------------------------------------------------
    def reindex_turn(self, conv_id: str, turn_idx: int, text: str) -> int:
        return self._mutate(
            _reindex, self.spark, self.warehouse, conv_id, turn_idx, text, self.cfg
        )

    # ---- late data: batched upsert and append -----------------------------------
    def upsert_turns(self, transcripts: DataFrame) -> int:
        """Insert or replace a batch of turns in one mutation; a turn
        without text removes its key. Returns the number of turns written
        (plans/incremental.py)."""
        return self._mutate(
            _upsert, self.spark, self.warehouse, transcripts, self.cfg,
            replace_existing=True,
        )

    def append_turns(self, transcripts: DataFrame, epoch: int | None = None) -> int:
        """Append a batch of NEW turns (late data; already-indexed keys are
        dropped). O(batch) reads+writes, crash-safe under retry — see
        plans/incremental.py's commit protocol."""
        from searchengine_spark.streaming.ingest import append_turns as _append

        return self._mutate(
            _append, self.spark, self.warehouse, transcripts, self.cfg, epoch=epoch
        )

    # ---- ANN: persisted IVF index over an embedding table -----------------------
    def build_ann_index(self, embeddings: DataFrame, n_centroids: int = 16,
                        **kw) -> dict:
        """Train the IVF quantizer (seeded k-means) ONCE and persist
        ``ann_centroids`` + cid-partitioned ``ann_lists`` in the engine's
        catalog — the served-ANN analog of the persistent inverted index
        (repository/IndexRepository.java:10-12)."""
        from searchengine_spark.analysis.ann import build_ivf_index

        return build_ivf_index(embeddings, self.catalog, n_centroids, **kw)

    def ann_topk(self, embeddings: DataFrame, probe_ids: list[int],
                 k: int = 10, nprobe: int = 4, **kw) -> DataFrame:
        """Serve IVF top-k from the persisted index: zero quantizer /
        assignment work per query, partition-pruned list scans only.
        ``embeddings`` supplies the probe vectors."""
        from searchengine_spark.analysis.ann import ivf_topk_indexed

        return ivf_topk_indexed(
            embeddings, self.catalog, probe_ids, k=k, nprobe=nprobe, **kw
        )

    # ---- maintenance: squash streaming-append block tails -----------------------
    def compact_shard(self, shard: int) -> int:
        """Re-encode one doc-range shard's posting blocks from postings_flat
        (no text change): restores fresh-build block geometry after many
        small appends. Returns the shard's block count after compaction."""
        from searchengine_spark.plans.compaction import compact_shard as _compact

        return self._mutate(_compact, self.spark, self.warehouse, shard, self.cfg)

    def compact_appended(self) -> dict[int, int]:
        """Compact every shard the append path may have fragmented (all
        shards at/after the build watermark). Returns shard → block count."""
        from searchengine_spark.plans.compaction import (
            appended_shards,
            compact_shard as _compact,
        )

        return self._mutate(lambda: {
            s: _compact(self.spark, self.warehouse, s, self.cfg)
            for s in appended_shards(self.catalog)
        })
