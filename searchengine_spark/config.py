"""Engine configuration.

Scale-oriented knobs. The sandbox runs ``local[8..32]``, but every default is
chosen so the same plan holds on a 1000-executor cluster over 10^12 turns
(BASELINE.json north_rule): group sizes handed to ``applyInPandas`` are
bounded by ``docs_per_shard`` (never by a term's df), posting blocks are
fixed-size, and shuffle parallelism is a parameter, not a constant.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    """Standard Robertson/Sparck-Jones BM25 (SURVEY §2.3 scoring note).

    ``reference`` scoring mode is the degenerate parameterization of this
    (idf=1, k1→∞, b=0, conjunctive candidates) — the reference's
    Σtf-over-AND-matches ranking, ``SearchServiceImpl.java:107-167``.
    """

    k1: float = 1.2
    b: float = 0.75

    @staticmethod
    def idf(n_docs: int, df: int) -> float:
        """Lucene-style non-negative idf: ln(1 + (N - df + .5)/(df + .5))."""
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


@dataclass(frozen=True)
class EngineConfig:
    # Posting-block geometry (SURVEY §4.3.2): one block = ≤block_size postings
    # of one (term, shard); block metadata powers block-max WAND pruning.
    block_size: int = 128

    # Doc-range sharding (SURVEY §4.3.3 skew handling): shard =
    # doc_id // docs_per_shard. Every encoder run is ≤ min(df_in_shard,
    # docs_per_shard) postings, so a df≈N stopword term is split into
    # ceil(N / docs_per_shard) independently-sorted, independently-compressed
    # contiguous doc ranges — the skewed-term "salted shuffle" whose merge is
    # an ordered concat, never a re-sort. At query time shards double as the
    # WAND kernel's unit of parallelism (all query terms co-partitioned by
    # doc range). None → derived from corpus size and `parallelism`.
    docs_per_shard: int | None = None

    # Upper bound on the derived docs_per_shard: bounds the block encoder's
    # run buffer and the query kernel's per-shard frame ABSOLUTELY (a
    # (term, shard) run is ≤ this many postings) even when n_docs /
    # (4·parallelism) would exceed it — group size must not grow linearly
    # with corpus size at fixed parallelism. 2^21 docs ≈ 50 MB of posting
    # rows per run worst case.
    max_docs_per_shard: int = 1 << 21

    # Shuffle / range-partition width. local: ~cores; cluster: ~2-3× cores.
    parallelism: int = 32

    # Broadcast the (conv_id, turn_idx) → doc_id map into the posting join
    # when the corpus has at most this many docs; larger corpora use a
    # shuffle join. As a JVM broadcast hash relation each row costs ~60-100 B
    # (string conv_id + boxing + hash-table overhead), not the ~30 B of raw
    # data — 4M rows ≈ 300-400 MB per executor, the sane ceiling for a
    # multi-GB-heap executor. (Was 20M: ~1.5-2 GB per executor, an OOM risk.)
    broadcast_ids_max: int = 4_000_000

    # M4 (SURVEY §2.4): fail the build on duplicate (conv_id, turn_idx)
    # input keys — checked in the same job that computes id offsets, so the
    # validation costs no extra pass. Off → duplicates collapse to one doc.
    validate_input_keys: bool = True

    # Hash-bucket count for the term-keyed tables (postings_flat, terms,
    # terms_global): bucket = crc32(term) % n_term_buckets is the physical
    # partition, so an incremental upsert rewrites only the touched buckets
    # (Iceberg overwritePartitions / dynamic-partition-overwrite semantics)
    # and term lookups prune to 1 bucket per term. None → 2·parallelism,
    # floor 64.
    term_buckets: int | None = None

    # Second-level partitioning of postings_flat: sgrp = doc_id //
    # flat_group_docs, capped at this many groups at build time (the total
    # cell count nb × n_groups must stay catalog-sane at 10^12 docs — a few
    # hundred thousand cells, not nb × n_shards ≈ 10^9). An upsert rewrites
    # (bucket, sgrp) CELLS — corpus/(nb·n_groups) rows each — instead of
    # whole corpus/nb buckets; the streaming recovery fence reads only the
    # tail group's cells. Groups keep growing past the build-time count as
    # appends raise doc ids (doc-range groups are physical layout).
    max_flat_groups: int = 64

    bm25: BM25Params = field(default_factory=BM25Params)

    # Search defaults — the reference's API defaults
    # (controllers/ApiController.java:59-64).
    default_limit: int = 20
    default_offset: int = 0

    # Snippet window in words (LemmaSearcherImpl.java:218).
    snippet_window: int = 40

    # Streaming auto-compaction cadence: after every N committed foreachBatch
    # epochs, the stream compacts the shards the append path may have
    # fragmented (plans/compaction.compact_shard over appended_shards) so a
    # long-running stream converges to fresh-build block geometry without a
    # manual maintenance call. 0 disables (manual compact_appended() only).
    # Each compaction is a bounded per-shard job — the stream pays it
    # between batches, never inside one.
    compact_every_epochs: int = 8

    def shard_size(self, n_docs: int) -> int:
        """Resolve docs_per_shard: aim ≈4 shards/core, with a floor of 4096
        docs/shard so shard count (== query-kernel task count) never explodes
        on small corpora and, crucially, does not grow with core count on a
        fixed input — otherwise adding cores adds per-group overhead instead
        of speed — and a ceiling of ``max_docs_per_shard`` so encoder-run /
        query-frame memory stays bounded regardless of corpus size (at
        10^12 docs the cap dominates and shard count grows with the data,
        which is correct: shards are the unit of parallelism)."""
        if self.docs_per_shard is not None:
            return self.docs_per_shard
        target_shards = max(1, 4 * self.parallelism)
        return min(
            self.max_docs_per_shard,
            max(4096, math.ceil(max(1, n_docs) / target_shards)),
        )

    def flat_group_docs(self, shard_size: int, n_docs: int) -> int:
        """Docs per postings_flat doc-range group (the sgrp partition level).
        A multiple of shard_size, so every doc-range shard lives in exactly
        one group (M1 rewrites and shard compaction touch one group). The
        resolved value is frozen into index_meta at build time."""
        n_shards = max(1, math.ceil(max(1, n_docs) / shard_size))
        width = max(1, math.ceil(n_shards / self.max_flat_groups))
        return shard_size * width

    def n_term_buckets(self, n_docs: int) -> int:
        """Resolve term_buckets (physical partition count of term-keyed
        tables). Scales DOWN with tiny corpora (≈1 bucket per 256 docs,
        floor 8) so toy builds don't pay 64 directory commits per table;
        at real scale the max(64, 2·parallelism) target dominates. The
        resolved value is frozen into index_meta at build time — readers
        and incremental writers never re-derive it."""
        if self.term_buckets is not None:
            return self.term_buckets
        full = max(64, 2 * self.parallelism)
        return max(8, min(full, n_docs // 256))
