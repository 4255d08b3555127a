"""Query path: AND-gate → rarest-first → block-max WAND kernel → top-k.

Reference search contract (SURVEY §2.3, ``services/impl/SearchServiceImpl
.java:41-195``): dedup query lemmas; per-site AND gate (:55-58,82-98);
rarest-term-first intersection (:100-105); Σtf scoring (:107-144);
max-normalize (:154-159); sort + offset/limit (:161-167, defaults
``controllers/ApiController.java:59-64``); total candidate count (:190-195).
Tiebreak is deterministic here — (score DESC, doc_id ASC), where doc_id order
== (conv_id, turn_idx) order — replacing the reference's unstable HashMap
iteration order.

One physical path, :class:`BlockSearcher`: scan only the query terms'
compressed blocks (parquet min/max pruning on the term-sorted table), one
``groupBy("shard").applyInPandas`` job running the per-shard kernel —
block-max WAND (bm25) / early-exit intersection (reference) with a per-shard
top-K heap — then a driver merge of ≤ shards×K rows (SURVEY §4.3.4). The
pandas oracle (``oracle/oracle.py``) and the DuckDB oracles in
``__spark_entry__.py`` are its cross-checks.

Rank determinism across float addition orders: both this module and the
pandas oracle rank by ``round(score, SCORE_DECIMALS)`` (then doc order), so
mathematically-equal scores order identically regardless of accumulation
order (SURVEY §7 float-equality risk).
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.config import BM25Params, EngineConfig
from searchengine_spark.functions.codec import varint_decode
from searchengine_spark.functions.lemmatize import query_lemmas
from searchengine_spark.functions.snippets import make_snippet, make_title

#: reserved pseudo-terms whose blocks carry per-doc forward data co-sharded
#: with real postings, so the kernel never joins the corpus-wide documents
#: table: doc lengths (BM25 norm) and dense site ids (site-scoped search).
#: '#'-prefixed names cannot collide with real lemmas (letters only) and
#: avoid NUL bytes, which the Arrow grouped-map path mishandles (observed:
#: rows with \x00 in a string column are dropped by applyInPandas).
DOCLEN_TERM = "#doc_len"
SITE_TERM = "#site"

SCORE_DECIMALS = 9

KERNEL_SCHEMA = "shard long, doc_id long, score double, cand long"


#: per-searcher memo bound: a long-lived serving process under an
#: adversarial query stream (millions of distinct cold terms) keeps the
#: driver-side term-stats memo at O(cap), not O(distinct terms ever queried)
MEMO_CAP = 65_536


class _LRUCache(OrderedDict):
    """Bounded dict memo: reads refresh recency, inserts past ``cap`` evict
    the least-recently-used entries (``update`` inherits the eviction: it
    routes through ``__setitem__``)."""

    def __init__(self, cap: int = MEMO_CAP):
        super().__init__()
        self.cap = cap

    def __getitem__(self, k):
        v = super().__getitem__(k)
        self.move_to_end(k)
        return v

    def __setitem__(self, k, v):
        super().__setitem__(k, v)
        self.move_to_end(k)
        while len(self) > self.cap:
            self.popitem(last=False)


class EmptySearchQueryError(ValueError):
    """Analog of EmptySearchQueryException → 400 (SearchServiceImpl.java:42-45)."""


# --------------------------------------------------------------------------
# Block-max WAND path over compressed posting blocks
# --------------------------------------------------------------------------
def _decode_block_rows(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Decode a set of same-term block rows (sorted by block_id/min_doc) into
    (doc_ids, tfs) numpy arrays."""
    ids, tfs = [], []
    for gaps, tf_bytes in zip(pdf["doc_gaps"], pdf["tfs"]):
        g = varint_decode(bytes(gaps)).astype(np.int64)
        ids.append(np.cumsum(g))
        tfs.append(varint_decode(bytes(tf_bytes)).astype(np.int64))
    if not ids:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(ids), np.concatenate(tfs)


#: slack subtracted from θ before it prunes: scores are ranked by
#: round(score, 9), so a doc strictly below θ by > 1e-9 provably rounds
#: below it (|round(x)−x| ≤ 0.5e-9 each side) and can never tie-win
THETA_GUARD = 1e-9


def make_shard_kernel(
    terms: list[str],
    mode: str,
    k: int,
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    allowed_site_ids: list[int] | None,
    exact_count: bool = False,
):
    """Build the per-shard applyInPandas kernel.

    Input group: all block rows of the query terms (+ DOCLEN_TERM for bm25,
    + SITE_TERM when site-filtered) in one doc-range shard. Output: per-shard
    top-k (doc_id, exact score) plus the shard's candidate count (same value
    on every emitted row; a count-only shard emits one doc_id=-1 sentinel
    row the driver drops after summing counts).

    Pruning is per shard: θ is the shard's own running k-th score, so a
    doc is skipped only when it provably cannot reach this shard's top-k,
    and hence not the global top-k either — the merged ranking is exact.
    """

    def topk_rows(
        shard: int,
        ids: np.ndarray,
        scores: np.ndarray,
        cand_override: int | None = None,
    ) -> pd.DataFrame:
        cand = len(ids) if cand_override is None else cand_override
        if len(ids) == 0:
            if not cand:
                return pd.DataFrame(
                    columns=["shard", "doc_id", "score", "cand"]
                ).astype(
                    {"shard": np.int64, "doc_id": np.int64, "score": np.float64, "cand": np.int64}
                )
            # every candidate pruned by θ, but the exact count survives:
            # sentinel row carries it (driver filters doc_id < 0 after
            # summing per-shard counts)
            return pd.DataFrame(
                {
                    "shard": [np.int64(shard)],
                    "doc_id": [np.int64(-1)],
                    "score": [-np.inf],
                    "cand": [np.int64(cand)],
                }
            )
        # rank by rounded score desc, then doc_id asc (== conv/turn order)
        key = np.round(scores, SCORE_DECIMALS)
        order = np.lexsort((ids, -key))[:k]
        return pd.DataFrame(
            {
                "shard": np.int64(shard),
                "doc_id": ids[order],
                "score": scores[order],
                "cand": np.int64(cand),
            }
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        by_term = {t: g.sort_values("min_doc") for t, g in pdf.groupby("term")}

        site_filter = None
        if allowed_site_ids is not None:
            site_rows = by_term.pop(SITE_TERM, None)
            if site_rows is None:
                raise RuntimeError(f"site blocks missing from shard {shard}")
            s_ids, s_vals = _decode_block_rows(site_rows)
            allowed = np.asarray(allowed_site_ids, dtype=np.int64)

            def site_filter(ids: np.ndarray, vals: np.ndarray):
                mask = np.isin(s_vals[np.searchsorted(s_ids, ids)], allowed)
                return ids[mask], vals[mask]

        if mode == "reference":
            # conjunctive: every term must appear in this shard
            if any(t not in by_term for t in terms):
                return topk_rows(shard, np.empty(0, np.int64), np.empty(0))
            # rarest-first (Q2 analog, SearchServiceImpl.java:100-105) using
            # in-shard posting counts from block metadata
            order = sorted(terms, key=lambda t: (int(by_term[t]["count"].sum()), t))
            first = by_term[order[0]]
            # seed-block pruning (metadata-only, before any decode): a doc
            # in the conjunction lies in some block of EVERY term, so a seed
            # block whose [min_doc, max_doc] range overlaps no block of some
            # other term cannot contribute — drop it. Per other term the
            # check is two sorted lookups over its block ranges (blocks are
            # min_doc-sorted; prefix-max of max_doc makes "any earlier block
            # reaches into [a, b]" O(log nblocks) per seed block). Pays off
            # when terms' doc ranges are patchy (hot seed, gappy others).
            if len(order) > 1 and len(first) > 0:
                smin = first["min_doc"].to_numpy(np.int64)
                smax = first["max_doc"].to_numpy(np.int64)
                mask = np.ones(len(first), dtype=bool)
                for t in order[1:]:
                    g = by_term[t]
                    tmin = g["min_doc"].to_numpy(np.int64)
                    pref = np.maximum.accumulate(
                        g["max_doc"].to_numpy(np.int64)
                    )
                    idx = np.searchsorted(tmin, smax, side="right")
                    ok = idx > 0
                    ok[ok] = pref[idx[ok] - 1] >= smin[ok]
                    mask &= ok
                    if not mask.any():
                        break
                if not mask.all():
                    first = first[mask]
            ids, tfs = _decode_block_rows(first)
            if site_filter is not None:  # mask the seed; intersections stay ⊆
                ids, tfs = site_filter(ids, tfs)
            scores = tfs.astype(np.float64)
            for t in order[1:]:
                if ids.size == 0:  # early exit (SearchServiceImpl.java:117-119)
                    break
                g = by_term[t]
                # block skipping: only decode blocks overlapping the current
                # candidate doc range
                lo, hi = int(ids[0]), int(ids[-1])
                g = g[(g["max_doc"] >= lo) & (g["min_doc"] <= hi)]
                t_ids, t_tfs = _decode_block_rows(g)
                common, ia, ib = np.intersect1d(
                    ids, t_ids, assume_unique=True, return_indices=True
                )
                scores = scores[ia] + t_tfs[ib]
                ids = common
            return topk_rows(shard, ids, scores)

        # ---- bm25: disjunctive with block-max WAND-style pruning ----
        dl_rows = by_term.pop(DOCLEN_TERM, None)
        present = [t for t in terms if t in by_term]
        if not present:
            return topk_rows(shard, np.empty(0, np.int64), np.empty(0))
        if dl_rows is None:
            raise RuntimeError("doc_len blocks missing from shard %d" % shard)
        dl_ids, dl_lens = _decode_block_rows(dl_rows)

        def bm25_scores(t: str, ids: np.ndarray, tfs: np.ndarray) -> np.ndarray:
            pos = np.searchsorted(dl_ids, ids)
            dl = dl_lens[pos]
            tf = tfs.astype(np.float64)
            return idf[t] * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

        # Per-term upper bound in this shard, from immutable block_max_tf and
        # the *current* idf: score ≤ idf·tf·(k1+1)/(tf + k1·(1−b)) (the dl→0
        # limit). Unlike a score stored at encode time, this stays a sound
        # bound after incremental updates shift avgdl/idf (M1,
        # plans/incremental.py).
        def term_ub(t: str) -> float:
            mtf = float(by_term[t]["block_max_tf"].max())
            return idf[t] * mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b))

        if len(present) == 1 and not (exact_count and site_filter is not None):
            # ---- single-term fast path: block-max early stop ----
            # One term ⇒ a doc's total score is exactly its contribution
            # here, so per-BLOCK upper bounds prune soundly: decode blocks
            # in descending block-UB order and stop as soon as the next
            # block's UB falls below θ (the local k-th score).
            # The exact candidate count is the metadata `count` sum — a doc
            # appears in exactly one block per (term, shard) — so a hot
            # term's count costs ZERO decodes (site-scoped exact counts
            # still take the generic path: metadata counts aren't
            # site-filtered).
            t = present[0]
            g = by_term[t]
            n_cand = int(g["count"].sum()) if exact_count else None
            bmt = g["block_max_tf"].to_numpy(np.float64)
            bub = idf[t] * bmt * (k1 + 1.0) / (bmt + k1 * (1.0 - b))
            border = np.argsort(-bub, kind="stable")
            theta = -np.inf
            ids_l: list[np.ndarray] = []
            sc_l: list[np.ndarray] = []
            # θ lives on a BOUNDED top-k score buffer, and blocks decode in
            # UB-ordered CHUNKS: per-chunk vectorized decode + one bounded
            # partition keeps a no-early-stop worst case (hot term, uniform
            # block UBs) at full-decode cost — the r4 per-block loop was
            # O(blocks² · blocksize) from re-partitioning an ever-growing
            # score array and measured 16 s on a df≈3.5M term (RUN_1v4)
            topk_sc = np.empty(0, np.float64)
            CHUNK = 256  # blocks (~32k postings): decode amortized, stop
            # granularity stays fine (hot shards hold thousands of blocks)
            for c0 in range(0, len(border), CHUNK):
                chunk = border[c0 : c0 + CHUNK]
                # bub is descending along border: drop the chunk tail below
                # θ; if nothing survives, no later chunk can reach θ either
                chunk = chunk[bub[chunk] >= theta - THETA_GUARD]
                if chunk.size == 0:
                    break
                b_ids, b_tfs = _decode_block_rows(g.iloc[chunk])
                if site_filter is not None:
                    b_ids, b_tfs = site_filter(b_ids, b_tfs)
                    if b_ids.size == 0:
                        continue
                b_sc = bm25_scores(t, b_ids, b_tfs)
                ids_l.append(b_ids)
                sc_l.append(b_sc)
                cand_sc = np.concatenate([topk_sc, b_sc])
                if cand_sc.size >= k:
                    cut = np.partition(cand_sc, cand_sc.size - k)[
                        cand_sc.size - k :
                    ]
                    topk_sc = cut
                    theta = max(theta, float(cut[0] if k else -np.inf))
                else:
                    topk_sc = cand_sc
            ids = np.concatenate(ids_l) if ids_l else np.empty(0, np.int64)
            scores = np.concatenate(sc_l) if sc_l else np.empty(0)
            return topk_rows(shard, ids, scores, cand_override=n_cand)

        if exact_count:
            # decode doc-id lists once upfront: gives the exact disjunctive
            # candidate count (SearchResponse.count analog); WAND pruning
            # below then skips *scoring* (dl gather + arithmetic) for docs
            # that provably can't reach the top-k
            decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for t in present:
                t_ids, t_tfs = _decode_block_rows(by_term[t])
                if site_filter is not None:
                    t_ids, t_tfs = site_filter(t_ids, t_tfs)
                decoded[t] = (t_ids, t_tfs)
            n_cand = len(np.unique(np.concatenate([decoded[t][0] for t in present])))
        else:
            decoded = None
            n_cand = None  # lower-bounded by len(acc) at the end

        ubs = {t: term_ub(t) for t in present}
        order = sorted(present, key=lambda t: (-ubs[t], t))
        acc = pd.Series(dtype=np.float64)  # doc_id → partial score
        for i, t in enumerate(order):
            remaining_ub = sum(ubs[o] for o in order[i:])
            theta = (
                float(np.partition(acc.to_numpy(), len(acc) - k)[len(acc) - k])
                if len(acc) >= k
                else -np.inf
            )
            prune = len(acc) > 0 and remaining_ub < theta - THETA_GUARD
            if decoded is not None:
                t_ids, t_tfs = decoded[t]
                if prune:
                    c_ids = acc.index.to_numpy(np.int64)  # sorted (pd index)
                    keep = np.isin(t_ids, c_ids, assume_unique=True)
                    t_ids, t_tfs = t_ids[keep], t_tfs[keep]
            elif prune:
                # WAND prune: no unseen doc can reach top-k; only complete the
                # scores of existing candidates → decode only blocks
                # overlapping them
                g = by_term[t]
                c_ids = acc.index.to_numpy(np.int64)
                starts = np.searchsorted(c_ids, g["min_doc"].to_numpy(np.int64))
                ends = np.searchsorted(
                    c_ids, g["max_doc"].to_numpy(np.int64), side="right"
                )
                g = g[ends > starts]
                t_ids, t_tfs = _decode_block_rows(g)
                keep = np.isin(t_ids, c_ids, assume_unique=True)
                t_ids, t_tfs = t_ids[keep], t_tfs[keep]
            else:
                t_ids, t_tfs = _decode_block_rows(by_term[t])
                if site_filter is not None:
                    t_ids, t_tfs = site_filter(t_ids, t_tfs)
            if t_ids.size == 0:
                continue
            part = pd.Series(bm25_scores(t, t_ids, t_tfs), index=t_ids)
            acc = part.add(acc, fill_value=0.0) if len(acc) else part
            acc = acc.sort_index()
        ids = acc.index.to_numpy(np.int64)
        return topk_rows(
            shard, ids, acc.to_numpy(np.float64),
            cand_override=n_cand,
        )

    return kernel


class BlockSearcher:
    """Serve top-k queries from the compressed index tables.

    Driver-side state is tiny and loaded once: corpus stats (n_docs, avgdl),
    per-site doc-id ranges (sites are contiguous in doc-id space because
    doc_ids are assigned in (conv_id, turn_idx) order and site is a conv_id
    prefix — SURVEY §1.4), and nothing per-term.
    """

    def __init__(
        self,
        blocks: DataFrame,
        documents: DataFrame,
        terms: DataFrame,
        *,
        n_docs: int,
        avgdl: float,
        site_ranges: dict[str, tuple[int, int]],
        site_ids: dict[str, int],
        shard_size: int,
        term_buckets: int,
        cfg: EngineConfig | None = None,
        transcripts: DataFrame | None = None,
    ):
        self.blocks = blocks
        self.documents = documents
        self.terms = terms
        self.cfg = cfg or EngineConfig()
        self.transcripts = transcripts
        # corpus stats are index_meta's maintained counters, so searcher
        # init runs ZERO corpus-sized jobs
        self.n_docs, self.avgdl = int(n_docs), float(avgdl)
        # per-site doc-id [min, max] — a sound SUPERSET bound for shard-scan
        # pruning even after incremental appends (exact filtering is the
        # kernel's SITE_TERM job, not this)
        self.site_ranges = dict(site_ranges)
        # stable mapping from the build-time `sites` table (incrementally
        # added sites append ids)
        self.site_ids = site_ids
        # the build-time shard geometry (index_meta) — doc-range shards are
        # physical layout, never re-derived from n_docs
        self.shard_size = int(shard_size)
        # bucket count of the term-partitioned tables (index_meta): lets the
        # term-stats lookup prune to the query terms' partitions
        self.term_buckets = int(term_buckets)
        # driver-side memo of term stats: (term) → list of per-site rows.
        # Each query only ever touches its own lemmas, so this stays tiny
        # even with a 10^8-term vocabulary; it removes one terms-table scan
        # job per repeated term (invalidated by reloading the searcher,
        # which incremental updates do). LRU-bounded at MEMO_CAP so an
        # adversarial stream of distinct cold terms can't grow a serving
        # process without bound.
        self._term_stats_cache: dict[str, list] = _LRUCache()

    # -- query planning (driver side, analog of SearchServiceImpl.java:48-105)
    def _plan(self, query: str, site: str | None, mode: str):
        lemmas = query_lemmas(query)
        if not lemmas:
            raise EmptySearchQueryError(query)
        tl = sorted(lemmas)
        missing = [t for t in tl if t not in self._term_stats_cache]
        if missing:
            # partition pruning: a term lives in exactly one bucket dir
            from searchengine_spark.operators.postings import term_bucket_py

            bks = sorted({term_bucket_py(t, self.term_buckets) for t in missing})
            fetched = (
                self.terms.filter(F.col("bucket").isin(bks))
                .filter(F.col("term").isin(missing))
                .select("term", "site", "df")
                .collect()
            )
            for t in missing:
                self._term_stats_cache[t] = []
            for r in fetched:
                self._term_stats_cache[r["term"]].append(r)
        per_site: dict[str, set[str]] = {}
        idf: dict[str, float] = {}
        for t in tl:
            df_global = 0
            for r in self._term_stats_cache[t]:
                per_site.setdefault(r["site"], set()).add(r["term"])
                df_global += int(r["df"])
            # idf is computed at QUERY time from (Σ_site df == global df,
            # current n_docs) — never trusted from a stored column, so
            # incremental updates (which shift n_docs/df) need no idf
            # rewrite anywhere (plans/incremental.py M1 discipline)
            if df_global:
                idf[t] = BM25Params.idf(self.n_docs, df_global)
        sites = [site] if site is not None else sorted(self.site_ranges)
        if mode == "reference":
            # per-site conjunctive gate (SearchServiceImpl.java:55-58):
            # early-exit site skipping; conjunctive semantics make the gate
            # redundant for correctness (an ungated site's docs cannot contain
            # every lemma) but it prunes the scan to the gated doc ranges
            gated = [s for s in sites if per_site.get(s, set()) >= lemmas]
        else:
            gated = [s for s in sites if per_site.get(s)]
        # kernel-side doc filtering is only *required* when a site filter
        # restricts candidates beyond what the scoring semantics imply
        allowed_site_ids = (
            sorted(self.site_ids[s] for s in gated) if site is not None else None
        )
        # shard-scan pruning uses the gated sites' doc ranges either way
        scan_ranges = sorted(self.site_ranges[s] for s in gated)
        return tl, idf, gated, allowed_site_ids, scan_ranges

    def search(
        self,
        query: str,
        site: str | None = None,
        offset: int | None = None,
        limit: int | None = None,
        mode: str = "reference",
        with_snippets: bool = False,
        exact_count: bool = False,
    ) -> tuple[pd.DataFrame, int]:
        """The DEFAULT BM25 path is full block-max WAND: the kernel skips
        decoding blocks that provably can't affect the top-k, so hot-term
        latency stays sub-linear in df (the ranking is still EXACT — WAND
        pruning only skips docs that cannot reach the top-k). The returned
        count is then a lower bound — the Elasticsearch
        ``track_total_hits=false`` trade-off; pass ``exact_count=True`` to
        decode every term's doc-id lists upfront and get the exact
        disjunctive candidate count (SearchResponse.count parity). Reference
        mode counts are always exact (conjunctive intersection)."""
        cfg = self.cfg
        offset = cfg.default_offset if offset is None else offset
        limit = cfg.default_limit if limit is None else limit
        tl, idf, gated, allowed_site_ids, scan_ranges = self._plan(query, site, mode)
        empty = pd.DataFrame(
            columns=["doc_id", "conv_id", "turn_idx", "site", "score", "relevance"]
        )
        if not gated:
            return empty, 0
        k = offset + limit
        scan_terms = list(tl)
        if mode == "bm25":
            scan_terms.append(DOCLEN_TERM)
        if allowed_site_ids is not None:
            scan_terms.append(SITE_TERM)
        blocks = self.blocks.filter(F.col("term").isin(scan_terms))
        if len(gated) < len(self.site_ranges):
            lo = min(r[0] for r in scan_ranges) // self.shard_size
            hi = max(r[1] for r in scan_ranges) // self.shard_size
            blocks = blocks.filter(F.col("shard").between(lo, hi))
        kernel = make_shard_kernel(
            tl, mode, k, idf, cfg.bm25.k1, cfg.bm25.b, self.avgdl,
            allowed_site_ids, exact_count=exact_count,
        )
        rows = blocks.groupBy("shard").applyInPandas(kernel, KERNEL_SCHEMA).toPandas()
        count = (
            int(rows.drop_duplicates("shard")["cand"].sum()) if len(rows) else 0
        )
        rows = rows[rows["doc_id"] >= 0]  # drop count-only sentinel rows
        if rows.empty:
            return empty, count
        rows = rows.copy()
        rows["_key"] = rows["score"].round(SCORE_DECIMALS)
        rows = rows.sort_values(["_key", "doc_id"], ascending=[False, True], kind="mergesort")
        page = rows.iloc[offset : offset + limit].copy()
        if mode == "reference":
            max_score = float(rows["score"].max())
            page["relevance"] = page["score"] / max_score
        else:
            page["relevance"] = page["score"]
        meta = (
            self.documents.filter(
                F.col("doc_id").isin([int(d) for d in page["doc_id"]])
            )
            .select("doc_id", "conv_id", "turn_idx", "site")
            .toPandas()
        )
        out = page.merge(meta, on="doc_id")[
            ["doc_id", "conv_id", "turn_idx", "site", "score", "relevance"]
        ]
        out = out.sort_values(
            ["relevance", "conv_id", "turn_idx"], ascending=[False, True, True],
            kind="mergesort",
        ).reset_index(drop=True)
        if with_snippets:
            out = self._attach_snippets(out, set(tl))
        return out, count

    def _attach_snippets(self, page: pd.DataFrame, lemmas: set[str]) -> pd.DataFrame:
        """P1–P3 on ≤limit rows: join text back for the final page only (the
        late-materialization rule — never carry `text` through a shuffle)."""
        if self.transcripts is None or page.empty:
            page["title"] = [
                make_title(c, int(t)) for c, t in zip(page["conv_id"], page["turn_idx"])
            ]
            page["snippet"] = ""
            return page
        keys = [(c, int(t)) for c, t in zip(page["conv_id"], page["turn_idx"])]
        texts = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in self.transcripts.filter(
                F.col("conv_id").isin([c for c, _ in keys])
                & F.col("turn_idx").isin([t for _, t in keys])
            )
            .select("conv_id", "turn_idx", "text")
            .collect()
        }
        page["title"] = [make_title(c, t) for c, t in keys]
        page["snippet"] = [
            make_snippet(texts.get((c, t), ""), lemmas) for c, t in keys
        ]
        return page
