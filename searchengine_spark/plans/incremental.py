"""Late data: every index mutation is one journaled, batched upsert.

The reference has one late-data operation, ``IndexingThread.addIndexingPage``
(``indexing/IndexingThread.java:199-224``, SURVEY §2.4 M1): delete the
page's old postings, decrement their lemma dfs, append the new ones. Here it
is :func:`upsert_turns`, applied to a batch of turns. ``reindex_turn`` (the
reference's ``POST /api/indexPage``) is a one-row batch that replaces an
existing key; ``streaming.ingest.append_turns`` (Structured-Streaming
micro-batches) is a batch that drops existing keys;
``SearchEngine.upsert_turns`` re-indexes N turns in one mutation.

Cost shape: O(batch), never O(corpus). Corpus statistics and id watermarks
are counters in ``index_meta``; no mutation re-scans ``documents`` or
``postings``. A batch's keys split into two kinds:

- NEW keys get doc ids after ``max_doc_id``, above every encoded id. Their
  ``postings_flat`` and ``documents`` rows are file APPENDS, and their
  posting blocks are appended after the existing ``(term, shard)`` runs
  (disjoint higher doc ranges; the query kernel merges blocks by min_doc).
  No existing file is read or rewritten: an append reads no postings_flat
  file beyond the recovery fence's tail cells.
- EXISTING keys are dropped by an append. Replaced ones take their old
  terms from one doc-id-pruned read of their ``postings_flat`` rows; one
  replaced by a turn without text is removed. Only the touched
  ``(bucket, sgrp)`` cells and the docs' ``documents`` shards are
  rewritten. In each such shard, the ``(term, shard)`` groups of the
  batch's terms are re-encoded from ``postings_flat`` after the append, so
  a new doc in that shard is encoded once. Blocks store no score: the query
  kernel bounds a block by block_max_tf and the query-time idf.

``terms`` takes exact ±(df, cf) increments, and the ``terms_global``
dictionary the batch's new terms, in one fold (:func:`apply_term_deltas`)
that rewrites only the affected term buckets; ``sites`` merges the batch's
doc-id ranges (:func:`update_sites`).

Commit protocol (single writer, as the reference's ``indexingRunning``
flag, ``IndexingServiceImpl.java:32-50``):

1. ``index_meta`` is the COMMIT RECORD: the counters (n_docs, sum_doc_len,
   max_doc_id, max_term_id), a monotone ``mut_seq`` and the stream's
   (epoch, run) watermark. It is written LAST, by an atomic directory swap.
2. Before its first table write, a mutation writes its batch to
   ``mutation_journal`` (atomic swap): one row per turn with key, text, doc
   id, old doc_len and old (terms, tfs), plus mut_seq, epoch and run. Every
   table write is a deterministic function of (journal, committed meta).
3. Every mutation entry point first runs :func:`complete_pending_mutation`:
   repair crashed partition swaps (``TableCatalog.recover_all``), drop the
   rows a crashed attempt appended above the committed ``max_doc_id``
   (:func:`fence_orphans`), then apply a journal whose mut_seq is the
   committed one + 1 again. Term increments are not idempotent, so each
   updated ``terms`` row is stamped with its mutation's mut_seq and a
   re-apply skips the buckets already stamped. Only ``terms`` rows are
   stamped: the dictionary gains new terms by a set union, which a re-apply
   repeats identically. New term ids are ``max_term_id + 1 +
   rank(term in the batch's delta vocabulary)``, the same on every attempt;
   ``max_term_id`` advances by the whole delta vocabulary (a pre-existing
   term burns its rank).
4. A committed (run, epoch) replays as a no-op; a crashed one is completed
   by step 3 and its retry returns the completed batch's count.

Untouched partition files stay byte-identical
(``test_incremental_partition_stability``,
``test_append_never_rewrites_existing_files``).
"""

from __future__ import annotations

import dataclasses
import os
from collections import Counter
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.postings import (
    DOCLEN_TERM,
    MARKER_BUCKET,
    SITE_TERM,
    counts_with_marker,
    encode_posting_blocks,
    flat_bucket_col,
    lemmatize_transcripts,
    sgrp_col,
    term_bucket_py,
)
from searchengine_spark.sources.catalog import (
    TABLES,
    TableCatalog,
    check_index_format,
    tiny_df,
)

JOURNAL_TABLE = "mutation_journal"
TERMS_COLS = ["term", "site", "df", "cf", "bucket", "mut_epoch"]
_KEY = ["conv_id", "turn_idx"]
_FLAT = ["doc_id", "site", "term", "tf", "bucket", "sgrp"]
_DOC = ["doc_id", "conv_id", "turn_idx", "site", "doc_len", "shard"]
_BLOCK = ["term", "min_doc", "max_doc", "count", "block_max_tf", "doc_gaps", "tfs"]


def reindex_turn(
    spark: SparkSession,
    warehouse: str,
    conv_id: str,
    turn_idx: int,
    text: str,
    cfg: EngineConfig | None = None,
) -> int:
    """Insert, replace or (with empty text) remove one turn's index
    entries: a one-row :func:`upsert_turns`. Returns its doc_id; -1 for a
    new turn without text, which is not indexed."""
    batch = tiny_df(
        spark, [(conv_id, int(turn_idx), text, None)],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    written = _upsert(spark, warehouse, batch, cfg, True, None, None)
    return int(written[0]["lo"]) if written else -1


def upsert_turns(
    spark: SparkSession,
    warehouse: str,
    batch: DataFrame,
    cfg: EngineConfig | None = None,
    *,
    replace_existing: bool,
    epoch: int | None = None,
    run_id: int | None = None,
) -> int:
    """Index a batch of turns (columns conv_id, turn_idx, text, ts) in one
    journaled mutation; returns the number of turns it wrote.

    Duplicate keys in the batch collapse to one winner: latest ``ts``, then
    greatest ``text``, so a replayed batch picks the same row. A key already
    in the index is replaced when ``replace_existing``, else dropped
    (idempotent re-delivery). A winner without text is not indexed, as in
    the build: a replaced key without text is removed from the index.

    ``epoch`` (a streaming micro-batch id) and ``run_id`` (its checkpoint's
    id) make the call exactly-once per (run, epoch): module docstring,
    step 4, and ``streaming.ingest.append_turns``. Without ``epoch``, a
    batch holding every turn of the crashed mutation that the recovery step
    completed is its retry: those turns count as written by it, and only
    the batch's other turns are applied."""
    written = _upsert(spark, warehouse, batch, cfg, replace_existing, epoch, run_id)
    return sum(int(r["n"]) for r in written)


def _upsert(
    spark: SparkSession,
    warehouse: str,
    batch: DataFrame,
    cfg: EngineConfig | None,
    replace_existing: bool,
    epoch: int | None,
    run_id: int | None,
) -> list:
    """:func:`upsert_turns`, returning the written batch's summary rows
    (:func:`_apply`); none when it wrote nothing."""
    cfg = cfg or EngineConfig()
    cat = TableCatalog(spark, warehouse)
    meta, sites, replayed = complete_pending_mutation(cat, cfg)
    w = Window.partitionBy(*_KEY).orderBy(
        F.col("ts").desc_nulls_last(), F.col("text").desc_nulls_last()
    )
    winners = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    turns = winners
    try:
        done: list = []
        if epoch is not None:
            if replayed and (replayed["epoch"], replayed["run_id"]) == (epoch, run_id):
                return replayed["written"]  # the crashed attempt was this epoch
            # a warehouse with stream_epoch but no stream_run predates the
            # run scope: a run mismatch, so the batch is processed (keys are
            # idempotent) and the commit stamps stream_run
            same_run = run_id is None or (
                "stream_run" in meta and int(meta["stream_run"]) == run_id
            )
            if same_run and int(meta.get("stream_epoch", -1)) >= epoch:
                return []  # a committed epoch replayed by the checkpoint
            _stamp_stream(meta, epoch, run_id)
        elif replayed:
            journaled = cat.read(JOURNAL_TABLE).select(*_KEY, "text")
            if journaled.exceptAll(turns.select(*_KEY, "text")).isEmpty():
                done = replayed["written"]  # this batch's crashed attempt
                turns = turns.join(journaled.select(*_KEY), _KEY, "left_anti")
        # write-ahead: the journal is complete before the first table write
        if not _write_journal(cat, meta, turns, replace_existing, epoch, run_id):
            if epoch is not None:
                cat.write_meta(meta)  # an epoch with nothing to write still commits
            return done
        return done + _apply(cat, meta, sites, cat.read(JOURNAL_TABLE), cfg)[2]
    finally:
        winners.unpersist()


def complete_pending_mutation(
    cat: TableCatalog, cfg: EngineConfig
) -> tuple[dict, dict[str, tuple[int, int, int]], dict | None]:
    """The recovery step every mutation entry point (upsert, append,
    compaction) runs before it reads committed state: module docstring,
    step 3. Returns the committed index_meta, the sites table as
    site → (sid, lo, hi), and for a completed journal its epoch, run_id and
    summary rows ``written`` (else None)."""
    cat.recover_all()
    meta = cat.read_meta()
    rows = cat.read("sites").collect()
    check_index_format(meta, rows)
    sites = {r["site"]: (int(r["sid"]), int(r["lo"]), int(r["hi"])) for r in rows}
    fence_orphans(
        cat,
        int(meta["max_doc_id"]) + 1,
        int(meta["shard_size"]),
        int(meta["flat_group_docs"]),
    )
    if not cat.exists(JOURNAL_TABLE):
        return meta, sites, None
    journal = cat.read(JOURNAL_TABLE)
    head = journal.select("mut_seq", "epoch", "run_id").limit(1).collect()
    if not head or int(head[0]["mut_seq"]) != int(meta["mut_seq"]) + 1:
        return meta, sites, None  # empty, or its mutation committed
    epoch, run_id = head[0]["epoch"], head[0]["run_id"]
    _stamp_stream(meta, epoch, run_id)
    meta, sites, written = _apply(cat, meta, sites, journal, cfg)
    return meta, sites, {"epoch": epoch, "run_id": run_id, "written": written}


def _stamp_stream(meta: dict, epoch: int | None, run_id: int | None) -> None:
    if epoch is not None:
        meta["stream_epoch"] = epoch
        if run_id is not None:
            meta["stream_run"] = run_id


def _write_journal(
    cat: TableCatalog,
    meta: dict,
    turns: DataFrame,
    replace_existing: bool,
    epoch: int | None,
    run_id: int | None,
) -> bool:
    """Write the journal of the batch's winners ``turns``: a row per key to
    write, with its doc id (existing, or assigned after max_doc_id in key
    order) and, for an existing doc, its old doc_len and postings. False
    when the batch writes nothing."""
    has_text = F.length("text") > 0
    # the convs (micro-batch-bounded) prune the documents scan: doc ids
    # follow (conv_id, turn_idx), so row-group conv_id stats skip nearly
    # every file
    per_conv = (
        turns.groupBy("conv_id").agg(F.count(F.when(has_text, 1)).alias("n")).collect()
    )
    existing = (
        cat.read("documents")
        .filter(F.col("conv_id").isin([r["conv_id"] for r in per_conv]))
        .join(turns.select(*_KEY, has_text.alias("has_text")), _KEY)
        .select(*_KEY, "doc_id", F.col("doc_len").alias("old_doc_len"), "has_text")
        .collect()
        if per_conv else []
    )
    # new keys with text get max_doc_id+1.. in key order: a conv's first
    # new id follows every earlier conv's new keys
    n_old = Counter(r["conv_id"] for r in existing if r["has_text"])
    base = next_id = int(meta["max_doc_id"]) + 1
    first_ids = []
    for r in sorted(per_conv, key=lambda r: r["conv_id"]):
        first_ids.append((r["conv_id"], next_id))
        next_id += r["n"] - n_old[r["conv_id"]]
    old_rows: dict[int, list] = {int(r["doc_id"]): [] for r in existing}
    if replace_existing and existing:
        fgd = int(meta["flat_group_docs"])
        for r in (
            cat.read("postings_flat")
            .filter(
                F.col("sgrp").isin(sorted({d // fgd for d in old_rows}))
                & (F.col("bucket") >= 0)
                & F.col("doc_id").isin(sorted(old_rows))
            )
            .select("doc_id", "term", "tf")
            .collect()
        ):
            old_rows[int(r["doc_id"])].append((r["term"], int(r["tf"])))
    known = F.broadcast(tiny_df(
        cat.spark,
        [
            (r["conv_id"], r["turn_idx"], d, r["old_doc_len"],
             [t for t, _ in old], [c for _, c in old])
            for r in existing
            for d in [int(r["doc_id"])]
            for old in [sorted(old_rows[d])]
        ],
        "conv_id string, turn_idx int, doc_id long, old_doc_len int, "
        "old_terms array<string>, old_tfs array<long>",
    ))
    parts = []
    if next_id > base:
        firsts = F.broadcast(tiny_df(cat.spark, first_ids, "conv_id string, first_id long"))
        in_conv = Window.partitionBy("conv_id").orderBy("turn_idx")
        parts.append(
            turns.filter(has_text).join(known, _KEY, "left_anti").join(firsts, "conv_id")
            .select(
                *_KEY, "text",
                (F.col("first_id") + F.row_number().over(in_conv) - 1).alias("doc_id"),
                F.lit(0).alias("old_doc_len"), F.lit(1).alias("is_insert"),
                F.lit(None).alias("old_terms"), F.lit(None).alias("old_tfs"),
            )
        )
    if replace_existing and existing:
        parts.append(turns.join(known, _KEY).withColumn("is_insert", F.lit(0)))
    if not parts:
        return False
    stamp = {
        "mut_seq": F.lit(int(meta["mut_seq"]) + 1),
        "epoch": F.lit(epoch),
        "run_id": F.lit(run_id),
    }
    schema = StructType.fromDDL(TABLES[JOURNAL_TABLE].schema)
    cat.replace(reduce(DataFrame.unionByName, (
        p.select(*[
            stamp.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name)
            for f in schema
        ])
        for p in parts
    )), JOURNAL_TABLE)
    return True


def _apply(
    cat: TableCatalog,
    meta: dict,
    sites: dict[str, tuple[int, int, int]],
    journal: DataFrame,
    cfg: EngineConfig,
) -> tuple[dict, dict[str, tuple[int, int, int]], list]:
    """Apply a journaled mutation and commit it. Returns the committed
    meta, the sites map and the written turns' summary: one row per (site,
    shard, is_insert) with their number ``n`` and doc-id range ``lo``..``hi``.
    A re-apply after the fence redoes every write identically: appends
    start from fenced tails, cell and shard rewrites are idempotent, and
    term increments are stamped."""
    shard_size = int(meta["shard_size"])
    nb = int(meta["term_buckets"])
    fgd = int(meta["flat_group_docs"])
    mut_seq = int(meta["mut_seq"]) + 1

    # the batch's lemmatized turns, computed once: every step below reads
    # them, and their plan reads only the journal, which no step rewrites.
    # A removed turn (no text) keeps its row, with no terms.
    kept = F.length("text") > 0
    docs = (
        lemmatize_transcripts(journal)
        .unionByName(
            journal.filter(~kept)
            .withColumn("site", F.split("conv_id", "-").getItem(0))
            .withColumn("counts", F.create_map().cast("map<string,int>"))
            .withColumn("doc_len", F.lit(0))
        )
        .withColumn("shard", (F.col("doc_id") / F.lit(shard_size)).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        summary = docs.groupBy("site", "shard", "is_insert").agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.sum(F.col("doc_len") - F.col("old_doc_len")).alias("d_len"),
            F.count(F.when(~kept, 1)).alias("n_removed"),
        ).collect()
        n_new = sum(int(r["n"]) for r in summary if r["is_insert"])
        n_removed = sum(int(r["n_removed"]) for r in summary)
        rshards = sorted({int(r["shard"]) for r in summary if not r["is_insert"]})
        ashards = sorted({int(r["shard"]) for r in summary if r["is_insert"]} - set(rshards))
        ranges: dict[str, tuple[int, int]] = {}
        for r in summary:
            lo, hi = ranges.get(r["site"], (int(r["lo"]), int(r["hi"])))
            ranges[r["site"]] = (min(lo, int(r["lo"])), max(hi, int(r["hi"])))

        rows = docs.filter(kept).select(
            "doc_id", "site", "shard", "is_insert",
            F.explode(counts_with_marker()).alias("term", "tf"),
        ).withColumn("tf", F.col("tf").cast("long"))
        flat = rows.withColumn("bucket", flat_bucket_col(F.col("term"), nb)).withColumn(
            "sgrp", sgrp_col(F.col("doc_id"), fgd)
        )
        old = docs.select(
            "doc_id", "site",
            F.explode(F.map_from_arrays("old_terms", "old_tfs")).alias("term", "tf"),
        )
        inserted = F.col("is_insert") == 1

        # --- postings_flat / documents: new docs append ----------------------
        if n_new:
            cat.write(flat.filter(inserted).select(*_FLAT), "postings_flat", mode="append")
            cat.write(docs.filter(inserted).select(*_DOC), "documents", mode="append")

        # --- replaced docs: rewrite their cells and shards -------------------
        re_terms: list[str] = []
        if rshards:
            # a replaced doc's old marker row names its doc_len cell, also
            # when it has no new rows (a removed turn)
            touched = (
                rows.filter(F.col("shard").isin(rshards))
                .select("doc_id", "term", "is_insert")
                .unionByName(old.select("doc_id", "term", F.lit(0).alias("is_insert")))
                .unionByName(docs.filter(~inserted).select(
                    "doc_id", F.lit(DOCLEN_TERM).alias("term"), F.lit(0).alias("is_insert")
                ))
                .collect()
            )
            replaced = sorted({int(r["doc_id"]) for r in touched if not r["is_insert"]})
            cells = sorted({
                (
                    MARKER_BUCKET if r["term"] == DOCLEN_TERM else term_bucket_py(r["term"], nb),
                    int(r["doc_id"]) // fgd,
                )
                for r in touched if not r["is_insert"]
            })
            in_cells = reduce(or_, (
                (F.col("sgrp") == g)
                & F.col("bucket").isin([b for b, cg in cells if cg == g])
                for g in sorted({g for _, g in cells})
            ))
            keep_flat = cat.read("postings_flat").filter(
                in_cells & ~F.col("doc_id").isin(replaced)
            ).select(*_FLAT)
            cat.replace_partitions(
                keep_flat.unionByName(flat.filter(~inserted).select(*_FLAT)),
                "postings_flat", cells,
            )
            keep_docs = cat.read("documents").filter(
                F.col("shard").isin(rshards) & ~F.col("doc_id").isin(replaced)
            ).select(*_DOC)
            cat.replace_partitions(
                keep_docs.unionByName(docs.filter(~inserted & kept).select(*_DOC)),
                "documents", rshards,
            )
            re_terms = sorted({r["term"] for r in touched} | {DOCLEN_TERM, SITE_TERM})

        # --- terms ±increments, new terms into terms_global -----------------
        deltas = [
            (r["term"], r["site"], int(r["d_df"]), int(r["d_cf"]))
            for r in rows.filter(F.col("term") != DOCLEN_TERM)
            .select("term", "site", F.lit(1).alias("d_df"), F.col("tf").alias("d_cf"))
            .unionByName(old.select(
                "term", "site", F.lit(-1).alias("d_df"), (-F.col("tf")).alias("d_cf")
            ))
            .groupBy("term", "site")
            .agg(F.sum("d_df").alias("d_df"), F.sum("d_cf").alias("d_cf"))
            .filter((F.col("d_df") != 0) | (F.col("d_cf") != 0))
            .collect()
        ]
        n_docs = int(meta["n_docs"]) + n_new - n_removed
        n_vocab = apply_term_deltas(cat, deltas, nb, mut_seq, int(meta["max_term_id"]))
        sites = update_sites(cat, sites, ranges)

        # --- posting blocks ---------------------------------------------------
        cfg_frozen = dataclasses.replace(cfg, docs_per_shard=shard_size)
        sids = {s: v[0] for s, v in sites.items()}

        def encode(flat_rows: DataFrame, documents: DataFrame) -> DataFrame:
            return encode_posting_blocks(
                flat_rows, n_docs, None, cat.read("terms_global"), cfg_frozen,
                documents=documents, site_ids=sids,
            )

        if rshards:
            # re-encode the batch's (term, shard) groups of the replaced
            # docs' shards from postings_flat, new docs there included
            real = [t for t in re_terms if t not in (DOCLEN_TERM, SITE_TERM)]
            in_shards = reduce(or_, (
                F.col("doc_id").between(s * shard_size, (s + 1) * shard_size - 1)
                for s in rshards
            ))
            re_flat = cat.read("postings_flat").filter(
                F.col("sgrp").isin(sorted({s * shard_size // fgd for s in rshards}))
                & F.col("bucket").isin(sorted({term_bucket_py(t, nb) for t in real}))
                & F.col("term").isin(real)
                & in_shards
            )
            keep_blocks = cat.read("postings").filter(
                F.col("shard").isin(rshards) & ~F.col("term").isin(re_terms)
            ).select(*_BLOCK, F.col("shard").cast("long"))
            re_blocks = encode(
                re_flat, cat.read("documents").filter(F.col("shard").isin(rshards))
            )
            cat.replace_partitions(keep_blocks.unionByName(re_blocks), "postings", rshards)
        if ashards:
            # every new doc id is above every encoded one: the new blocks
            # follow the existing runs in min_doc order
            new = inserted & F.col("shard").isin(ashards)
            cat.write(
                encode(flat.filter(new & (F.col("bucket") >= 0)), docs.filter(new)),
                "postings", mode="append",
            )

        # --- commit: counters last (atomic swap) -----------------------------
        meta = dict(meta)
        meta.update({
            "n_docs": n_docs,
            "sum_doc_len": int(meta["sum_doc_len"]) + sum(int(r["d_len"]) for r in summary),
            "max_doc_id": int(meta["max_doc_id"]) + n_new,
            "max_term_id": int(meta["max_term_id"]) + n_vocab,
            "mut_seq": mut_seq,
        })
        cat.write_meta(meta)
        return meta, sites, summary
    finally:
        docs.unpersist()


def _uncommitted_buckets(
    table: DataFrame, abuckets: list[int], mut_seq: int
) -> list[int]:
    """Buckets of ``abuckets`` NOT yet stamped with ``mut_seq`` — a crashed
    identical attempt commits whole bucket partitions, so a row stamped
    ``mut_seq`` tells the retry its bucket's increments already applied.
    Outside a retry no row is stamped yet, and the probe returns none."""
    stamped = {
        int(r["bucket"])
        for r in table.filter(
            F.col("bucket").isin(abuckets) & (F.col("mut_epoch") >= mut_seq)
        ).select("bucket").collect()
    }
    return [b for b in abuckets if b not in stamped]


def apply_term_deltas(
    cat: TableCatalog,
    deltas: list[tuple[str, str, int, int]],
    nb: int,
    mut_seq: int,
    max_term_id: int,
) -> int:
    """Fold exact (df, cf) increments into ``terms`` and add the new terms
    to the ``terms_global`` dictionary, rewriting ONLY the affected
    term-hash buckets (vocabulary-sized partitions,
    ``TableCatalog.replace_partitions``), reading NOTHING posting-sized.

    ``deltas`` holds the batch's nonzero (term, site, d_df, d_cf), unique
    on (term, site): bounded by the batch's vocabulary, so they are planned
    on the driver. They name the buckets to rewrite, and each new term's id
    is its rank in the batch's delta vocabulary after ``max_term_id``
    (module docstring, step 3). A dictionary bucket is rewritten as its
    rows plus the vocabulary's terms it lacks, the same on a re-apply.
    Updated ``terms`` rows get mut_epoch = ``mut_seq``, and rows whose df
    reaches 0 are dropped (a term can vanish under an upsert); the term
    keeps its dictionary row, so no id is reused. Returns the vocabulary's
    size (the term-id ranks consumed — the caller advances
    meta.max_term_id by this).
    """
    if not deltas:
        return 0
    ranked = [
        (t, max_term_id + 1 + i, term_bucket_py(t, nb))
        for i, t in enumerate(sorted({d[0] for d in deltas}))
    ]
    abuckets = sorted({r[2] for r in ranked})

    known = cat.read("terms_global").filter(F.col("bucket").isin(abuckets))
    added = tiny_df(cat.spark, ranked, TABLES["terms_global"].schema).join(
        known.select("term"), "term", "left_anti"
    )
    cat.replace_partitions(known.unionByName(added), "terms_global", abuckets)

    ts = cat.read("terms")
    rw = _uncommitted_buckets(ts, abuckets, mut_seq)
    if rw:
        dsb = tiny_df(
            cat.spark,
            [(t, site, a, b, term_bucket_py(t, nb)) for t, site, a, b in deltas
             if term_bucket_py(t, nb) in rw],
            "term string, site string, d_df long, d_cf long, _dbucket int",
        )
        old = ts.filter(F.col("bucket").isin(rw)).select(*TERMS_COLS)
        merged = (
            old.join(dsb, ["term", "site"], "full_outer")
            .select(
                "term",
                "site",
                (F.coalesce("df", F.lit(0)) + F.coalesce("d_df", F.lit(0)))
                .cast("long").alias("df"),
                (F.coalesce("cf", F.lit(0)) + F.coalesce("d_cf", F.lit(0)))
                .cast("long").alias("cf"),
                F.coalesce("bucket", "_dbucket").cast("int").alias("bucket"),
                F.when(F.col("d_df").isNotNull(), F.lit(mut_seq))
                .otherwise(F.col("mut_epoch")).cast("long").alias("mut_epoch"),
            )
            .filter(F.col("df") > 0)
        )
        cat.replace_partitions(merged, "terms", rw)
    return len(ranked)


def fence_orphans(
    cat: TableCatalog, base_id: int, shard_size: int, flat_group_docs: int
) -> bool:
    """Drop rows a crashed mutation appended above the committed doc-id
    watermark (``base_id`` = committed max_doc_id + 1). All appended rows
    carry doc_id ≥ base_id, so orphans live only in TAIL partitions:
    documents/postings shards ≥ base_id // shard_size, postings_flat cells
    with sgrp ≥ base_id // flat_group_docs — every probe below is
    partition-pruned (and, for postings_flat, reads ONLY the tail cells'
    files via explicit paths), with parquet doc-id row-group stats pruning
    the in-file scan. Returns True if anything was removed."""
    removed = False
    s0 = base_id // shard_size

    docs = cat.read("documents")
    tail = docs.filter(F.col("shard") >= s0)
    bad = sorted(
        int(r["shard"])
        for r in tail.filter(F.col("doc_id") >= base_id)
        .select("shard").distinct().collect()
    )
    if bad:
        keep = docs.filter(F.col("shard").isin(bad) & (F.col("doc_id") < base_id))
        cat.replace_partitions(keep, "documents", bad)
        removed = True

    blocks = cat.read("postings")
    btail = blocks.filter(F.col("shard") >= s0)
    bad_b = sorted(
        int(r["shard"])
        for r in btail.filter(F.col("min_doc") >= base_id)
        .select("shard").distinct().collect()
    )
    if bad_b:
        keep_b = blocks.filter(
            F.col("shard").isin(bad_b) & (F.col("min_doc") < base_id)
        )
        cat.replace_partitions(keep_b, "postings", bad_b)
        removed = True

    g0 = base_id // flat_group_docs
    if cat.iceberg_catalog:
        flat_tail = cat.read("postings_flat").filter(F.col("sgrp") >= g0)
    else:
        subdirs = []
        root = cat.path("postings_flat")
        for bdir in cat.partition_dirs("postings_flat"):
            bpath = os.path.join(root, bdir)
            for gdir in os.listdir(bpath):
                if gdir.startswith("sgrp=") and int(gdir.split("=", 1)[1]) >= g0:
                    subdirs.append(os.path.join(bdir, gdir))
        flat_tail = cat.read_partitions("postings_flat", subdirs)
    if flat_tail is not None:
        cells = [
            (int(r["bucket"]), int(r["sgrp"]))
            for r in flat_tail.filter(F.col("doc_id") >= base_id)
            .select("bucket", "sgrp").distinct().collect()
        ]
        if cells:
            cond = F.lit(False)
            for b, g in cells:
                cond = cond | ((F.col("bucket") == b) & (F.col("sgrp") == g))
            keep_f = flat_tail.filter(cond & (F.col("doc_id") < base_id))
            cat.replace_partitions(keep_f, "postings_flat", sorted(cells))
            removed = True
    return removed


def update_sites(
    cat: TableCatalog,
    sites: dict[str, tuple[int, int, int]],
    ranges: dict[str, tuple[int, int]],
) -> dict[str, tuple[int, int, int]]:
    """Merge a mutation's per-site doc-id ranges into ``sites`` (site →
    (sid, lo, hi), as :func:`complete_pending_mutation` collected it); a new
    site gets the next sid, and existing ids never shift. Min/max merging
    makes a re-apply idempotent. The table is rewritten only when it
    changes; returns the merged map."""
    out = dict(sites)
    next_sid = max((v[0] for v in out.values()), default=-1) + 1
    for s in sorted(ranges):
        lo, hi = ranges[s]
        if s in out:
            sid, cur_lo, cur_hi = out[s]
            out[s] = (sid, min(cur_lo, lo), max(cur_hi, hi))
        else:
            out[s] = (next_sid, lo, hi)
            next_sid += 1
    if out != sites:
        cat.replace(
            tiny_df(
                cat.spark,
                sorted((s, *v) for s, v in out.items()),
                TABLES["sites"].schema,
            ),
            "sites",
        )
    return out
