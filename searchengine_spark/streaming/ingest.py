"""Structured-Streaming ingestion: late-arriving transcript turns → index.

At 10^12-turn scale late data arrives as FILES: ``readStream`` over a
transcript directory → ``foreachBatch`` → :func:`append_turns`, a batched
``plans.incremental.upsert_turns`` that drops already-indexed keys.
foreachBatch is at-least-once (a crashed epoch replays with identical
data); the append is exactly-once per (checkpoint run, epoch) through the
mutation path's commit protocol (``plans/incremental.py``).

``trigger(availableNow=True)`` gives batch-incremental catch-up runs; a
continuous trigger serves a live feed. Watermarks and stateful operators
are unnecessary: ingestion is keyed by (conv_id, turn_idx). Repeated small
appends leave ≤1 under-filled block per (term, shard) per batch, which
``plans.compaction`` squashes without touching text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from searchengine_spark.config import EngineConfig
from searchengine_spark.plans.incremental import upsert_turns
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

#: Streaming auto-compaction cadence: after every this many committed
#: foreachBatch epochs, the stream compacts the shards the append path may
#: have fragmented (plans/compaction.compact_shard over appended_shards), so
#: a long-running stream converges to fresh-build block geometry without a
#: manual maintenance call. Each compaction is a bounded per-shard job — the
#: stream pays it between batches, never inside one.
COMPACT_EVERY_EPOCHS = 8


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
    dropped (idempotent re-delivery; ``reindex_turn`` changes text).
    ``epoch`` is the streaming micro-batch id: a committed epoch replays as
    a no-op, and a crashed one is completed and returns its count.

    ``run_id`` scopes the committed-epoch watermark to one streaming
    CHECKPOINT (the StreamingQuery's persistent id — :func:`stream_transcripts`
    derives it). Epoch ids restart at 0 whenever a stream starts with a
    fresh checkpoint directory; without the scope, every batch of the new
    stream would silently no-op until its epoch counter exceeded the old
    run's high-water mark, losing genuinely new documents. A mismatched
    run_id therefore IGNORES the stored watermark (processes the batch) and
    commits the new (run, epoch) pair; a missing run_id (direct batch calls)
    keeps the bare epoch comparison."""
    return upsert_turns(
        spark, warehouse, transcripts, cfg,
        replace_existing=False, epoch=epoch, run_id=run_id,
    )


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
        # auto-compaction: squash the block tails the append path
        # fragments (bounded per-shard jobs between batches)
        if epoch_id > 0 and int(epoch_id) % COMPACT_EVERY_EPOCHS == 0:
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
