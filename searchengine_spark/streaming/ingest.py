"""Structured-Streaming ingestion: late-arriving transcript turns → index.

The reference's only late-data path is the synchronous single-page upsert
(``POST /api/indexPage``, ``indexing/IndexingThread.java:199-224``); at
10^12-turn scale late data arrives as FILES, so this module wires the same
append semantics into Structured Streaming: ``readStream`` over a transcript
directory → ``foreachBatch`` → :func:`append_turns`.

Exactly-once, spelled out (foreachBatch itself is at-least-once — the same
epoch replays with identical data after a crash; the sink must be
idempotent per epoch):

- index_meta is the commit record, written LAST (atomic swap). A fully
  committed epoch replay short-circuits on ``meta.stream_epoch`` — scoped
  to the checkpoint via ``meta.stream_run`` (the StreamingQuery id), so a
  stream restarted against a FRESH checkpoint (epoch ids back at 0) is
  never mistaken for a replay of the old run's committed epochs.
- A PARTIALLY committed epoch (crash mid-batch) is repaired by
  :func:`latedata.fence_orphans`: every appended row carries doc_id above
  the committed watermark, so the retry drops the orphans from the tail
  partitions and redoes the batch byte-identically (same base_id, same
  term ids — both derived from the unchanged meta).
- terms/terms_global increments are stamped with the mutation's mut_seq;
  the retry skips buckets the crashed attempt already committed
  (``latedata.apply_term_deltas``).
- intra-batch duplicate (conv_id, turn_idx) rows (e.g. overlapping input
  files in one trigger) are collapsed to a deterministic winner (latest
  ts, then lexically greatest text) — a replayed batch picks the same one.
  Cross-batch re-delivered keys are dropped against the documents table.

Cost shape per micro-batch — O(batch + query-pruned reads), never O(corpus):

- corpus stats and id watermarks come from index_meta's counters (no
  max/count scans of documents);
- the already-indexed-key check filters documents by the batch's conv_ids
  (collected, micro-batch-bounded) — parquet row-group conv_id min/max
  stats prune the scan (ids are assigned in conv order); no corpus shuffle;
- new doc ids continue from the watermark, ABOVE every already-encoded id,
  so the batch's posting blocks APPEND after the existing (term, shard)
  blocks (disjoint doc ranges; the query kernel merges blocks by min_doc)
  — no existing block file is read or rewritten;
- ``postings_flat`` / ``documents`` take pure file APPENDS into their
  partition directories;
- ``terms`` / ``terms_global`` advance by INCREMENT (append-only ⇒
  df' = df + batch_df, cf' = cf + batch_cf), computed from the batch's own
  lemma maps — an append reads ZERO postings_flat data files beyond the
  recovery fence's tail-cell probe (asserted by
  ``test_append_reads_no_flat_files``);
- every existing file of every table is untouched (append-only + bucket
  replaces).

``trigger(availableNow=True)`` gives batch-incremental catch-up runs; a
continuous trigger serves a live feed. Watermarks/stateful operators are
unnecessary — ingestion is append-only keyed by (conv_id, turn_idx); input
rows that duplicate an already-indexed key are DROPPED (the upsert path for
changed text is ``reindex_turn``). Repeated small appends leave ≤1
under-filled block per (term, shard) per batch — ``plans.compaction``
squashes them without touching text.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.postings import (
    encode_posting_blocks,
    flat_bucket_col,
    flat_postings,
    lemmatize_transcripts,
    counts_with_marker,
    sgrp_col,
)
from searchengine_spark.plans.incremental import complete_pending_mutation
from searchengine_spark.plans.latedata import apply_term_deltas, update_sites
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import TRANSCRIPTS_SCHEMA


def append_turns(
    spark: SparkSession,
    warehouse: str,
    transcripts: DataFrame,
    cfg: EngineConfig | None = None,
    epoch: int | None = None,
    run_id: int | None = None,
) -> int:
    """Append a batch of NEW turns to an existing index; returns the number
    of documents added. Turns whose (conv_id, turn_idx) already exist are
    dropped (idempotent re-delivery; use ``reindex_turn`` to change text).
    ``epoch`` is the streaming micro-batch id — committed epochs replay as
    no-ops; partial commits are repaired then redone (module docstring).

    ``run_id`` scopes the committed-epoch watermark to one streaming
    CHECKPOINT (the StreamingQuery's persistent id — :func:`stream_transcripts`
    derives it). Epoch ids restart at 0 whenever a stream starts with a
    fresh checkpoint directory; without the scope, every batch of the new
    stream would silently no-op until its epoch counter exceeded the old
    run's high-water mark, losing genuinely new documents. A mismatched
    run_id therefore IGNORES the stored watermark (processes the batch) and
    commits the new (run, epoch) pair; a missing run_id (direct batch calls)
    keeps the bare epoch comparison."""
    cfg = cfg or EngineConfig()
    cat = TableCatalog(spark, warehouse)
    # repair a crashed attempt's partial appends (no-op in the happy path:
    # three partition-pruned probes of the tail shards/cells) and complete a
    # crashed UPSERT before claiming its mut_seq (journal protocol,
    # plans/incremental.py): its bucket stamps would otherwise swallow this
    # batch's term increments
    meta, _ = complete_pending_mutation(spark, cat, cfg)
    if epoch is not None:
        # a warehouse with stream_epoch but NO stream_run predates the
        # run-id fence: treat it as a run MISMATCH (process the batch —
        # appends are idempotent on (conv_id, turn_idx)) so a fresh
        # checkpoint over a legacy warehouse doesn't silently drop batches
        # until its epoch exceeds the old high-water mark; the commit below
        # stamps stream_run, self-healing the warehouse
        same_run = run_id is None or (
            "stream_run" in meta and int(meta["stream_run"]) == run_id
        )
        if same_run and int(meta.get("stream_epoch", -1)) >= epoch:
            return 0  # fully committed epoch replayed by the checkpoint
    shard_size = int(meta["shard_size"])
    nb = int(meta["term_buckets"])
    fgd = int(meta["flat_group_docs"])
    base_id = int(meta["max_doc_id"]) + 1
    mut_seq = int(meta["mut_seq"]) + 1

    # deterministic winner for intra-batch duplicate keys: latest ts, then
    # lexically greatest text (a replayed epoch re-picks the same row);
    # cross-batch duplicates fail loudly only in the batch BUILD path (M4)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").desc_nulls_last(), F.col("text").desc_nulls_last()
    )
    batch = (
        transcripts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    lemmed = lemmatize_transcripts(batch)
    # already-indexed keys: prune the documents scan to the batch's convs
    # (driver list, micro-batch-bounded) → row-group conv_id stats skip
    # nearly every file; the anti-join's right side is then tiny
    batch_keys = lemmed.select("conv_id", "turn_idx", "site", "doc_len")
    convs = [r["conv_id"] for r in lemmed.select("conv_id").distinct().collect()]
    if not convs:
        if epoch is not None:
            meta["stream_epoch"] = epoch
            if run_id is not None:
                meta["stream_run"] = run_id
            cat.write_meta(meta)
        return 0
    docs = cat.read("documents")
    seen = docs.filter(F.col("conv_id").isin(convs)).select("conv_id", "turn_idx")
    new_keys = batch_keys.join(seen, ["conv_id", "turn_idx"], "left_anti")
    ids = assign_doc_ids(
        new_keys, parallelism=cfg.parallelism, expect_unique=False
    ).withColumn("doc_id", F.col("doc_id") + F.lit(base_id))
    # PIN the assignment before any write: its lineage anti-joins the
    # documents table, and appending to that table invalidates the cached
    # plan (Spark refreshes caches on insert-into-path) — a re-execution
    # would then anti-join against the already-appended rows and silently
    # drop the batch from the posting writes. localCheckpoint truncates the
    # lineage to materialized partitions.
    ids = ids.localCheckpoint(eager=True)
    n_new = ids.count()
    if n_new == 0:
        if epoch is not None:
            meta["stream_epoch"] = epoch
            if run_id is not None:
                meta["stream_run"] = run_id
            cat.write_meta(meta)
        return 0

    # --- batch posting rows (incl. #doc_len markers), O(batch) --------------
    rows = lemmed.select(
        "conv_id", "turn_idx", "site", "doc_len",
        F.explode(counts_with_marker()).alias("term", "tf"),
    ).join(F.broadcast(ids.select("conv_id", "turn_idx", "doc_id")),
           ["conv_id", "turn_idx"])
    flat_new = (
        flat_postings(rows)
        .withColumn("bucket", flat_bucket_col(F.col("term"), nb))
        .withColumn("sgrp", sgrp_col(F.col("doc_id"), fgd))
    )
    # one materialization of the batch's postings: feeds the flat append,
    # the term deltas, and the block encode without re-running the
    # lemmatizer (plans are not shared across actions)
    flat_new = flat_new.localCheckpoint(eager=True)

    # --- postings_flat / documents: pure file appends ------------------------
    cat.write(flat_new, "postings_flat", mode="append",
              partition_by=["bucket", "sgrp"],
              sort_by=["bucket", "sgrp", "doc_id", "term"])
    docs_new = ids.select(
        "doc_id", "conv_id", "turn_idx", "site", "doc_len"
    ).withColumn("shard", (F.col("doc_id") / F.lit(shard_size)).cast("long"))
    cat.write(docs_new, "documents", mode="append", partition_by=["shard"],
              sort_by=["shard", "doc_id"])

    # --- corpus counters (maintained, no documents scan) ---------------------
    agg = flat_new.filter(F.col("bucket") < 0).agg(
        F.sum("tf").alias("s")
    ).collect()[0]
    batch_sum_dl = int(agg["s"] or 0)
    n_docs = int(meta["n_docs"]) + n_new
    sum_doc_len = int(meta["sum_doc_len"]) + batch_sum_dl

    # --- sites: merge ranges / append new sids (tiny table) ------------------
    site_ranges = {
        r["site"]: (int(r["lo"]), int(r["hi"]))
        for r in docs_new.groupBy("site").agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()
    }
    sids = update_sites(cat, site_ranges)

    # --- terms / terms_global: increment from the batch itself ---------------
    # (append-only ⇒ df' = df + batch_df; reads NOTHING posting-sized)
    real = flat_new.filter(F.col("bucket") >= 0)
    delta_site = real.groupBy("term", "site").agg(
        F.count("*").alias("d_df"), F.sum("tf").alias("d_cf")
    )
    delta_glob = real.groupBy("term").agg(
        F.count("*").alias("d_df"), F.sum("tf").alias("d_cf")
    )
    n_vocab = apply_term_deltas(
        cat, delta_site, delta_glob, nb, mut_seq, n_docs,
        int(meta["max_term_id"]), cfg.parallelism,
    )

    # --- posting blocks: encode the BATCH's postings, APPEND after the ------
    # existing blocks. Every new doc_id is ABOVE every already-encoded
    # doc_id, so the new blocks' doc ranges are disjoint from and after all
    # existing (term, shard) blocks — the query kernel concatenates blocks
    # in min_doc order, which stays a sorted posting list. Existing block
    # FILES are never read or rewritten; the only corpus-sized state touched
    # is a partition-PRUNED metadata read of the touched shards'
    # (term, block_id) pairs for id continuation.
    new_shards = sorted(
        r["shard"]
        for r in docs_new.select("shard").distinct().collect()
    )
    cfg_frozen = dataclasses.replace(cfg, docs_per_shard=shard_size)
    new_blocks = encode_posting_blocks(
        real, n_docs, None, cat.read("terms_global"), cfg_frozen,
        documents=docs_new.select("doc_id", "conv_id", "turn_idx", "site", "doc_len"),
        site_ids=sids,
    )
    existing_ids = (
        cat.read("postings")
        .filter(F.col("shard").isin(new_shards))  # partition-pruned
        .groupBy("term", F.col("shard").cast("long").alias("shard"))
        .agg(F.max("block_id").alias("_max_bid"))
    )
    appended = (
        new_blocks.join(existing_ids, ["term", "shard"], "left")
        .withColumn(
            "block_id",
            F.col("block_id") + F.coalesce(F.col("_max_bid") + 1, F.lit(0)),
        )
        .drop("_max_bid")
    )
    cat.write(
        appended, "postings", mode="append", partition_by=["shard"],
        sort_by=["shard", "term"],
    )

    # --- commit: counters last (atomic swap) ---------------------------------
    meta.update(
        {
            "n_docs": n_docs,
            "sum_doc_len": sum_doc_len,
            "max_doc_id": base_id + n_new - 1,
            "max_term_id": int(meta["max_term_id"]) + n_vocab,
            "mut_seq": mut_seq,
        }
    )
    if epoch is not None:
        meta["stream_epoch"] = epoch
        if run_id is not None:
            meta["stream_run"] = run_id
    cat.write_meta(meta)

    return int(n_new)


def stream_transcripts(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    checkpoint: str,
    cfg: EngineConfig | None = None,
    available_now: bool = True,
):
    """``readStream`` over a transcript parquet directory → foreachBatch
    append into the index. Returns the StreamingQuery (caller awaits it).

    ``available_now=True`` processes everything currently in the directory
    then stops (incremental catch-up); ``False`` keeps listening with the
    default micro-batch trigger. The checkpoint dir tracks consumed files
    across restarts (M3's resume semantics for the stream); exactly-once
    comes from :func:`append_turns`'s epoch-keyed idempotence on top of the
    checkpoint's replay."""
    cfg = cfg or EngineConfig()
    src = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )

    run_ref: list[int] = []

    def _run_id() -> int:
        """Checkpoint-scoped run id: crc32 of the StreamingQuery's persistent
        id (checkpoint/metadata, written once per checkpoint dir and stable
        across restarts). A deleted/new checkpoint gets a new query id, so
        its epoch-0 restart is never mistaken for a replay of the previous
        run's committed epochs (the silent-drop bug run_id fences)."""
        if not run_ref:
            import json
            import zlib

            try:
                with open(os.path.join(checkpoint, "metadata")) as f:
                    qid = json.load(f)["id"]
            except (OSError, KeyError, ValueError):
                qid = os.path.abspath(checkpoint)
            run_ref.append(zlib.crc32(str(qid).encode()))
        return run_ref[0]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        append_turns(
            spark, warehouse, batch_df, cfg,
            epoch=int(epoch_id), run_id=_run_id(),
        )
        # auto-compaction: every N committed epochs, squash the block tails
        # the append path fragments (bounded per-shard jobs between batches)
        n = cfg.compact_every_epochs
        if n and epoch_id > 0 and int(epoch_id) % n == 0:
            from searchengine_spark.plans.compaction import (
                appended_shards,
                compact_shard,
            )

            cat = TableCatalog(spark, warehouse)
            for shard in appended_shards(cat):
                compact_shard(spark, warehouse, shard, cfg)

    writer = src.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
