"""Query path: AND-gate → rarest-first → block-max WAND kernel → top-k.

Reference search contract (SURVEY §2.3, ``services/impl/SearchServiceImpl
.java:41-195``): dedup query lemmas; per-site AND gate (:55-58,82-98);
rarest-term-first intersection (:100-105); Σtf scoring (:107-144);
max-normalize (:154-159); sort + offset/limit (:161-167, defaults
``controllers/ApiController.java:59-64``); total candidate count (:190-195).
Tiebreak is deterministic here — (score DESC, doc_id ASC), where doc_id order
== (conv_id, turn_idx) order — replacing the reference's unstable HashMap
iteration order.

One kernel, two executors (:class:`BlockSearcher`, SURVEY §4.3.4): scan
only the query terms' compressed blocks (parquet min/max pruning on the
term-sorted table) and run :func:`make_shard_kernel` once per doc-range
shard, then merge ≤ shards×K rows on the driver. For bm25 the kernel is one
block-max loop, term at a time, whatever the query's shape: a block admits
new docs only while its BM25 bound plus the later terms' bounds reaches the
shard's running k-th score θ, and exact and pruned counts differ only in
how the count is taken. Reference mode is an early-exit rarest-first
intersection. A query whose estimated postings (Σ global df of its scanned
terms) fit under :data:`DRIVER_KERNEL_MAX_POSTINGS` reads its blocks with
one Arrow ``toPandas()`` and runs the kernel on the driver, skipping the
round trip through Spark's Python workers that dominates a small query's
latency; a query too large for the driver's memory runs the same kernel in
one ``groupBy("shard").applyInPandas`` job. Every request predicate is one
SQL string, so a filter costs one Python→JVM call however many literals it
lists. The pandas oracle (``oracle/oracle.py``) and the DuckDB oracles in
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

from searchengine_spark.config import BM25Params, EngineConfig
from searchengine_spark.functions.codec import varint_decode
from searchengine_spark.functions.lemmatize import query_lemmas
from searchengine_spark.functions.snippets import make_snippet, make_title
from searchengine_spark.operators.postings import DOCLEN_TERM, SITE_TERM, term_bucket_py

SCORE_DECIMALS = 9

KERNEL_SCHEMA = "shard long, doc_id long, score double, cand long"

#: a query whose estimated postings (Σ global df of its lemmas, plus n_docs
#: per pseudo-term it scans) are at most this runs the shard kernel on the
#: driver over one Arrow scan of its blocks; a larger one runs it in a
#: ``groupBy("shard").applyInPandas`` job on the executors, the only
#: executor for a query whose blocks would not fit on the driver (bm25 at
#: 10^12 turns scans n_docs doc-length postings). Sized by driver memory: a
#: scanned posting costs ~2.4 bytes of collected Arrow result (counted
#: against ``spark.driver.maxResultSize``, 1 GiB by default), 3.4 in the
#: pandas frame and ~5 at the kernel's peak, ~11 in all, so the gate holds
#: one query's driver working set near 256 MiB.
DRIVER_KERNEL_MAX_POSTINGS = 24_000_000

#: page defaults — the reference's API defaults
#: (controllers/ApiController.java:59-64)
DEFAULT_LIMIT = 20
DEFAULT_OFFSET = 0


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


def sql_literal(v) -> str:
    """A Spark SQL literal for a str or an int. Strings are quoted with
    ``\\`` and ``'`` backslash-escaped, as the default string-literal
    parser reads them."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def sql_in(col: str, values) -> str:
    """``col IN (v, …)`` as one SQL predicate string — one Python→JVM call
    per ``DataFrame.filter``, where ``Column.isin`` makes several per
    literal. No values gives ``false`` (``IN ()`` does not parse)."""
    vals = list(values)
    if not vals:
        return "false"
    return f"{col} IN ({', '.join(map(sql_literal, vals))})"


# --------------------------------------------------------------------------
# Block-max WAND path over compressed posting blocks
# --------------------------------------------------------------------------
def _empty_kernel_rows() -> pd.DataFrame:
    """No kernel output rows, typed like :data:`KERNEL_SCHEMA`."""
    return pd.DataFrame(columns=["shard", "doc_id", "score", "cand"]).astype(
        {"shard": np.int64, "doc_id": np.int64, "score": np.float64, "cand": np.int64}
    )


def _decode_block_rows(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Decode a set of same-term block rows (sorted by min_doc) into
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
    """Build the per-shard kernel, which runs on the driver or in
    ``applyInPandas`` alike.

    Input group: all block rows of the query terms (+ DOCLEN_TERM for bm25,
    + SITE_TERM when site-filtered) in one doc-range shard. Output: per-shard
    top-k (doc_id, exact score) plus the shard's candidate count (same value
    on every emitted row; a shard that emits no top-k row but has
    candidates emits one doc_id=-1 sentinel row the driver drops after
    summing counts).

    bm25 is one block-max loop, term at a time, for every query shape. Terms
    go in descending order of their largest block bound; ``rest`` is the sum
    of the later terms' largest bounds. A term's blocks are visited in
    descending bound, 256 at a time, and a block admits new docs (decoded,
    scored) while ``bound + rest ≥ θ − THETA_GUARD``. After the first block
    that fails, the term only completes the docs earlier terms admitted.
    θ is the k-th best partial score on a bounded buffer that keeps each
    doc once, at its largest partial score; it never exceeds this shard's
    final k-th score. A doc not admitted at its first term therefore cannot
    reach the top-k (nor the global one), and every admitted doc is
    completed at every later term, so the top-k is exact.

    The count rule is the only difference between exact and pruned: one
    term without a site filter counts its metadata ``count``; other exact
    queries decode every term first (the loop reuses those postings) and
    count the union of their doc ids; a pruned count is the number of
    admitted docs, at least the page length.
    """

    def topk_rows(
        shard: int,
        ids: np.ndarray,
        scores: np.ndarray,
        cand_override: int | None = None,
    ) -> pd.DataFrame:
        cand = len(ids) if cand_override is None else cand_override
        # rank by rounded score desc, then doc_id asc (== conv/turn order)
        order = np.lexsort((ids, -np.round(scores, SCORE_DECIMALS)))[:k]
        if order.size == 0:
            if not cand:
                return _empty_kernel_rows()
            # no row to emit (k = 0), but the count survives: the
            # sentinel row carries it
            return pd.DataFrame(
                {
                    "shard": [np.int64(shard)],
                    "doc_id": [np.int64(-1)],
                    "score": [-np.inf],
                    "cand": [np.int64(cand)],
                }
            )
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

        def site_filter(ids: np.ndarray, vals: np.ndarray):
            return ids, vals

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
            ids, tfs = site_filter(ids, tfs)  # mask the seed; intersections stay ⊆
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

        # ---- bm25: one block-max loop ----
        dl_rows = by_term.pop(DOCLEN_TERM, None)
        present = [t for t in terms if t in by_term]
        if not present:
            return topk_rows(shard, np.empty(0, np.int64), np.empty(0))
        if dl_rows is None:
            raise RuntimeError("doc_len blocks missing from shard %d" % shard)
        dl_ids, dl_lens = _decode_block_rows(dl_rows)
        # partial scores and admitted docs, dense by a doc's position in the
        # shard's doc-length postings: merging a chunk costs O(chunk)
        acc = np.zeros(len(dl_ids))
        admitted = np.zeros(len(dl_ids), dtype=bool)

        # Per-block upper bound from immutable block_max_tf and the *current*
        # idf: score ≤ idf·tf·(k1+1)/(tf + k1·(1−b)) (the dl→0 limit). Unlike
        # a score stored at encode time, this stays a sound bound after
        # incremental updates shift avgdl/idf (plans/incremental.py).
        bound = {}
        for t in present:
            mtf = by_term[t]["block_max_tf"].to_numpy(np.float64)
            bound[t] = idf[t] * mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b))
        order = sorted(present, key=lambda t: (-bound[t].max(), t))

        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        if not exact_count:
            n_cand = None  # the admitted docs, counted at the end
        elif len(present) == 1 and allowed_site_ids is None:
            # a doc lies in exactly one block per (term, shard): the count
            # costs no decode (metadata counts are not site-filtered)
            n_cand = int(by_term[present[0]]["count"].sum())
        else:
            for t in present:
                decoded[t] = site_filter(*_decode_block_rows(by_term[t]))
            n_cand = len(np.unique(np.concatenate([v[0] for v in decoded.values()])))

        def fetch(t: str, sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            """The site-filtered postings of term ``t``'s blocks ``sel``."""
            g = by_term[t]
            if t not in decoded:
                return site_filter(*_decode_block_rows(g.iloc[sel]))
            ids, tfs = decoded[t]
            lo = np.searchsorted(ids, g["min_doc"].to_numpy(np.int64)[sel])
            n = np.searchsorted(ids, g["max_doc"].to_numpy(np.int64)[sel], side="right") - lo
            idx = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
            return ids[idx], tfs[idx]

        top_pos, top_sc = np.empty(0, np.int64), np.empty(0)
        theta = -np.inf

        def accumulate(t: str, pos: np.ndarray, tfs: np.ndarray) -> None:
            """Add term ``t``'s scores of the docs at ``pos`` and raise θ:
            the k best of their partial scores join a buffer that keeps
            each doc once, at its largest partial score; θ is its k-th
            score once it holds k docs (a doc past the k best of a batch
            cannot change that k-th score)."""
            nonlocal top_pos, top_sc, theta
            tf = tfs.astype(np.float64)
            acc[pos] += idf[t] * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl_lens[pos] / avgdl)
            )
            admitted[pos] = True
            if not k:
                return
            sc = acc[pos]
            if len(sc) > k:
                best = np.argpartition(sc, len(sc) - k)[len(sc) - k :]
                pos, sc = pos[best], sc[best]
            pos, sc = np.concatenate([top_pos, pos]), np.concatenate([top_sc, sc])
            by_score = np.argsort(-sc, kind="stable")
            _, first = np.unique(pos[by_score], return_index=True)
            keep = by_score[np.sort(first)][:k]
            top_pos, top_sc = pos[keep], sc[keep]
            if len(keep) == k:
                theta = float(top_sc[-1])

        # blocks per chunk (~32k postings): decode is amortized, and the stop
        # stays fine-grained (hot shards hold thousands of blocks)
        CHUNK = 256
        for i, t in enumerate(order):
            rest = sum(bound[o].max() for o in order[i + 1 :])
            g, bt = by_term[t], bound[t]
            border = np.argsort(-bt, kind="stable")
            stop = len(border)
            for c0 in range(0, len(border), CHUNK):
                chunk = border[c0 : c0 + CHUNK]
                # bounds descend along border: the admitted blocks are a prefix
                n_ok = int(np.count_nonzero(bt[chunk] + rest >= theta - THETA_GUARD))
                ids, tfs = fetch(t, chunk[:n_ok])
                accumulate(t, np.searchsorted(dl_ids, ids), tfs)
                if n_ok < len(chunk):
                    stop = c0 + n_ok
                    break
            tail = border[stop:]
            if tail.size:
                # complete the earlier terms' candidates: decode only the
                # remaining blocks that overlap them. Blocks of one term
                # hold disjoint doc ranges, so this term's own admitted docs
                # overlap no remaining block.
                cand = dl_ids[admitted]
                lo = np.searchsorted(cand, g["min_doc"].to_numpy(np.int64)[tail])
                hi = np.searchsorted(cand, g["max_doc"].to_numpy(np.int64)[tail], side="right")
                ids, tfs = fetch(t, tail[hi > lo])
                pos = np.searchsorted(dl_ids, ids)
                keep = admitted[pos]
                accumulate(t, pos[keep], tfs[keep])
        pos = np.flatnonzero(admitted)
        return topk_rows(shard, dl_ids[pos], acc[pos], cand_override=n_cand)

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
        # which executor served the last query and what it read: executor
        # ("driver" / "spark", None when the plan short-circuits),
        # est_postings, blocks and shards scanned (None on the Spark path,
        # whose scan runs in the job), candidates (the returned count)
        self.last_trace: dict = {}

    # -- query planning (driver side, analog of SearchServiceImpl.java:48-105)
    def _plan(self, query: str, site: str | None, mode: str):
        lemmas = query_lemmas(query)
        if not lemmas:
            raise EmptySearchQueryError(query)
        tl = sorted(lemmas)
        missing = [t for t in tl if t not in self._term_stats_cache]
        if missing:
            # partition pruning: a term lives in exactly one bucket dir
            bks = sorted({term_bucket_py(t, self.term_buckets) for t in missing})
            fetched = self.terms.filter(
                f"{sql_in('bucket', bks)} AND {sql_in('term', missing)}"
            ).collect()
            for t in missing:
                self._term_stats_cache[t] = []
            for r in fetched:
                self._term_stats_cache[r["term"]].append(r)
        per_site: dict[str, set[str]] = {}
        idf: dict[str, float] = {}
        postings = 0  # Σ global df: the lemmas' postings the scan reads at most
        for t in tl:
            term_df = 0
            for r in self._term_stats_cache[t]:
                per_site.setdefault(r["site"], set()).add(r["term"])
                term_df += int(r["df"])
            postings += term_df
            # idf is computed at QUERY time from (Σ_site df == global df,
            # current n_docs): the index stores no idf, so incremental
            # updates (which shift n_docs/df) rewrite none
            # (plans/incremental.py M1 discipline)
            if term_df:
                idf[t] = BM25Params.idf(self.n_docs, term_df)
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
        return tl, idf, gated, allowed_site_ids, scan_ranges, postings

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
        ``track_total_hits=false`` trade-off; pass ``exact_count=True`` for
        the exact disjunctive candidate count (SearchResponse.count parity),
        taken from block metadata for one term without a site filter and
        from every term's decoded doc ids otherwise. Reference
        mode counts are always exact (conjunctive intersection)."""
        cfg = self.cfg
        offset = DEFAULT_OFFSET if offset is None else offset
        limit = DEFAULT_LIMIT if limit is None else limit
        tl, idf, gated, allowed_site_ids, scan_ranges, est = self._plan(
            query, site, mode
        )
        empty = pd.DataFrame(
            columns=["doc_id", "conv_id", "turn_idx", "site", "score", "relevance"]
        )
        k = offset + limit
        scan_terms = list(tl)
        if mode == "bm25":
            scan_terms.append(DOCLEN_TERM)
        if allowed_site_ids is not None:
            scan_terms.append(SITE_TERM)
        est += self.n_docs * (len(scan_terms) - len(tl))  # a posting per doc
        self.last_trace = trace = {
            "executor": None, "est_postings": est, "blocks": 0, "shards": 0,
            "candidates": 0,
        }
        if not gated:
            return empty, 0
        pred = sql_in("term", scan_terms)
        if len(gated) < len(self.site_ranges):
            lo = min(r[0] for r in scan_ranges) // self.shard_size
            hi = max(r[1] for r in scan_ranges) // self.shard_size
            pred += f" AND shard BETWEEN {lo} AND {hi}"
        blocks = self.blocks.filter(pred)
        kernel = make_shard_kernel(
            tl, mode, k, idf, cfg.bm25.k1, cfg.bm25.b, self.avgdl,
            allowed_site_ids, exact_count=exact_count,
        )
        if est <= DRIVER_KERNEL_MAX_POSTINGS:
            pdf = blocks.toPandas()
            parts = [kernel(g.reset_index(drop=True)) for _, g in pdf.groupby("shard")]
            parts = [p for p in parts if len(p)]
            rows = pd.concat(parts, ignore_index=True) if parts else _empty_kernel_rows()
            trace.update(executor="driver", blocks=len(pdf), shards=int(pdf["shard"].nunique()))
        else:
            rows = blocks.groupBy("shard").applyInPandas(kernel, KERNEL_SCHEMA).toPandas()
            trace.update(executor="spark", blocks=None, shards=None)
        count = (
            int(rows.drop_duplicates("shard")["cand"].sum()) if len(rows) else 0
        )
        trace["candidates"] = count
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
        meta = self.documents.filter(sql_in("doc_id", page["doc_id"])).toPandas()
        out = page[["doc_id", "score", "relevance"]].merge(meta, on="doc_id")[
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
        pred = (
            f"{sql_in('conv_id', sorted({c for c, _ in keys}))}"
            f" AND {sql_in('turn_idx', sorted({t for _, t in keys}))}"
        )
        texts = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in self.transcripts.filter(pred)
            .selectExpr("conv_id", "turn_idx", "text")
            .collect()
        }
        page["title"] = [make_title(c, t) for c, t in keys]
        page["snippet"] = [
            make_snippet(texts.get((c, t), ""), lemmas) for c, t in keys
        ]
        return page
