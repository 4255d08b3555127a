"""Shard compaction: squash streaming-append block tails without touching text.

Repeated small appends leave ≤1 under-filled posting block per (term, shard)
per micro-batch (streaming/ingest.py appends blocks AFTER the existing runs —
correct but fragmenting). ``compact_shard`` re-encodes ONE doc-range shard's
blocks from its postings_flat cells — the same re-encode the M1 upsert uses,
minus any text change — restoring fresh-build block geometry. Reference
analog: the bulk-save consolidation that folds per-page maps into one write
(``indexing/IndexingThread.java:127-149``).

Scale shape: a shard is ≤ max_docs_per_shard docs; its flat rows live in ONE
doc-range group's cells (flat_group_docs is a multiple of shard_size), read
partition-pruned + doc-id row-group-pruned. Run it per-shard from a scheduler
(e.g. after every N micro-batches, over the shards the stream touched) — each
invocation is an independent, bounded job, which is exactly what a 100-TB
operator wants to throttle.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.postings import encode_posting_blocks
from searchengine_spark.plans.incremental import complete_pending_mutation
from searchengine_spark.sources.catalog import TableCatalog


def compact_shard(
    spark: SparkSession,
    warehouse: str,
    shard: int,
    cfg: EngineConfig | None = None,
) -> int:
    """Re-encode every (term, shard) posting run of one shard from
    postings_flat and atomically replace the shard's partition. Queries are
    identical before/after (same postings, fewer blocks). Returns the block
    count after compaction."""
    cfg = cfg or EngineConfig()
    cat = TableCatalog(spark, warehouse)
    # a crashed append/upsert must be repaired/completed before re-encoding
    # from postings_flat, or orphan rows / missing term_ids leak into blocks
    meta, _ = complete_pending_mutation(spark, cat, cfg)
    shard_size = int(meta["shard_size"])
    fgd = int(meta["flat_group_docs"])
    n_docs = int(meta["n_docs"])

    lo, hi = shard * shard_size, (shard + 1) * shard_size
    dgrp = lo // fgd  # the whole shard lives in one doc-range group
    flat = cat.read("postings_flat").filter(
        (F.col("sgrp") == dgrp)
        & (F.col("bucket") >= 0)
        & (F.col("doc_id") >= lo)
        & (F.col("doc_id") < hi)
    )
    shard_docs = cat.read("documents").filter(F.col("shard") == shard)
    sids = {r["site"]: int(r["sid"]) for r in cat.read("sites").collect()}
    cfg_frozen = dataclasses.replace(cfg, docs_per_shard=shard_size)
    blocks = encode_posting_blocks(
        flat, n_docs, None, cat.read("terms_global"), cfg_frozen,
        documents=shard_docs.select("doc_id", "conv_id", "turn_idx", "site", "doc_len"),
        site_ids=sids,
    )
    cat.replace_partitions(
        blocks, "postings", "shard", [int(shard)], sort_by=["shard", "term"]
    )
    return int(
        cat.read("postings").filter(F.col("shard") == shard).count()
    )


def appended_shards(cat: TableCatalog) -> list[int]:
    """Shards whose max block count per (term, shard) suggests append
    fragmentation candidates: every shard at/above the committed watermark's
    shard — the streaming path only ever appends to tail shards. Cheap
    driver-side planning input for a compaction scheduler."""
    meta = cat.read_meta()
    shard_size = int(meta["shard_size"])
    built = int(meta.get("built_n_docs", 0))
    max_doc = int(meta["max_doc_id"])
    first = built // shard_size if built else 0
    return list(range(first, max_doc // shard_size + 1))
