"""Single-turn incremental (re-)index — the M1 upsert (SURVEY §2.4).

Reference behavior (``IndexingThread.addIndexingPage``,
``indexing/IndexingThread.java:199-224``): if the page exists, delete its
postings and decrement affected lemma dfs (:250-263); re-lemmatize; merge
lemma dfs (:265-276); append postings. This is the reference's only "late
data" handling — a synchronous row-level upsert, not streaming (SURVEY §1.4).

Spark-first translation with scale-honest cost bounds — everything below is
O(one document), never O(corpus):

- corpus stats (n_docs, avgdl) come from index_meta's maintained counters,
  never from scanning documents; the doc's OLD terms come from one
  partition-pruned + doc-id-row-group-pruned read of its postings_flat
  (bucket, sgrp) cells;
- ``postings_flat`` (partitioned (term-hash bucket, doc-range group)):
  rewrite only the CELLS (affected bucket × the doc's group) — each
  corpus/(nb·n_groups) rows — plus the doc's marker cell;
- ``documents``: rewrite the doc's shard partition;
- ``terms`` / ``terms_global``: exact ±increments from (old rows, new
  counts) folded in by ``plans/latedata.apply_term_deltas`` — affected
  buckets rewritten, stamped with this mutation's mut_seq so a manual retry
  of a crashed upsert never double-increments. idf refreshes only on
  updated rows; the searcher recomputes idf at query time anyway;
- ``postings`` blocks: re-encode the affected ``(term, shard)`` groups —
  the doc's shard × (old ∪ new terms + the doc_len/site pseudo-terms) —
  and rewrite that ONE shard partition. Blocks store no score: the query
  kernel bounds a block by its immutable block_max_tf and the current idf,
  so pruning stays sound as corpus stats drift (operators/search.py);
- ``index_meta`` commits the counter updates LAST (atomic swap).

Crash safety — the WRITE-AHEAD JOURNAL. The upsert's deltas depend on the
doc's OLD state (its previous postings_flat rows and doc_len), which the
mutation itself overwrites in steps 1-2; a naive retry of a crashed attempt
would re-derive "old" state from half-rewritten tables, compute empty/zero
deltas, and permanently corrupt terms/terms_global (new terms would then
lose their term_ids and their flat postings be dropped by the encoder's
terms_global join). So ``reindex_turn``:

1. repairs crash-interrupted partition swaps (``TableCatalog.recover_all``)
   and fences any crashed APPEND's orphan rows (``latedata.fence_orphans``)
   — committed state is now clean;
2. if an uncommitted ``mutation_journal`` exists (journal.mut_seq ==
   committed mut_seq + 1), COMPLETES that mutation first from the
   journaled old state — every table write is a deterministic function of
   (journal, committed meta), and ``apply_term_deltas``'s mut_seq stamps
   skip whatever buckets the crashed attempt already committed. Steps 1-2
   are :func:`complete_pending_mutation`, shared by every mutation;
3. derives the new mutation's old state from committed tables ONLY, writes
   it to ``mutation_journal`` (atomic swap) BEFORE the first table write,
   then applies. A journal whose mut_seq ≤ committed mut_seq is stale
   (that mutation committed) and is ignored.

Untouched partition files are byte-identical after an upsert
(``test_incremental_partition_stability``).
"""

from __future__ import annotations

import dataclasses
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.functions.lemmatize import lemma_counts
from searchengine_spark.operators.postings import (
    MARKER_BUCKET,
    encode_posting_blocks,
    term_bucket_py,
)
from searchengine_spark.operators.search import DOCLEN_TERM, SITE_TERM
from searchengine_spark.plans.build_index import _append_state
from searchengine_spark.plans.latedata import (
    apply_term_deltas,
    fence_orphans,
    update_sites,
)
from searchengine_spark.sources.catalog import (
    TABLES,
    TableCatalog,
    check_index_format,
    tiny_df,
)
from searchengine_spark.sources.transcripts import site_of_conv

JOURNAL_TABLE = "mutation_journal"


def _read_journal(cat: TableCatalog) -> dict | None:
    if not cat.exists(JOURNAL_TABLE):
        return None
    rows = cat.read(JOURNAL_TABLE).collect()
    if not rows:
        return None
    r = rows[0]
    return {
        "mut_seq": int(r["mut_seq"]),
        "conv_id": r["conv_id"],
        "turn_idx": int(r["turn_idx"]),
        "text": r["text"],
        "doc_id": int(r["doc_id"]),
        "old_doc_len": int(r["old_doc_len"]),
        "is_insert": bool(r["is_insert"]),
        "old_rows": {
            t: int(c) for t, c in zip(r["old_terms"], r["old_tfs"])
        },
    }


def _write_journal(cat: TableCatalog, st: dict) -> None:
    old_terms = sorted(st["old_rows"])
    cat.replace(
        tiny_df(
            cat.spark,
            [(
                st["mut_seq"], st["conv_id"], st["turn_idx"], st["text"],
                st["doc_id"], st["old_doc_len"], int(st["is_insert"]),
                old_terms, [st["old_rows"][t] for t in old_terms],
            )],
            TABLES[JOURNAL_TABLE].schema,
        ),
        JOURNAL_TABLE,
    )


def complete_pending_mutation(
    spark: SparkSession, cat: TableCatalog, cfg: EngineConfig
) -> tuple[dict, dict | None]:
    """The recovery step EVERY mutation entry point (upsert, streaming
    append, compaction) runs before reading committed state: repair
    crash-interrupted partition swaps, check the index format, fence a
    crashed append's orphan rows, then complete a crashed upsert left in
    ``mutation_journal`` (journal mut_seq == committed mut_seq + 1) —
    otherwise a later append would claim the same mut_seq as the
    half-applied upsert and its bucket increments would be skipped by the
    upsert's stamps. Returns (committed index_meta, the completed journal
    or None)."""
    cat.recover_all()
    meta = cat.read_meta()
    check_index_format(meta, cat.read("sites").collect())
    fence_orphans(
        cat,
        int(meta["max_doc_id"]) + 1,
        int(meta["shard_size"]),
        int(meta["flat_group_docs"]),
    )
    j = _read_journal(cat)
    if j is None or j["mut_seq"] != int(meta["mut_seq"]) + 1:
        return meta, None
    _apply_upsert(spark, cat, j, cfg, meta)
    return cat.read_meta(), j


def reindex_turn(
    spark: SparkSession,
    warehouse: str,
    conv_id: str,
    turn_idx: int,
    text: str,
    cfg: EngineConfig | None = None,
) -> int:
    """Insert or replace one turn's index entries. Returns its doc_id.
    Crash-safe under retry: see the module docstring's journal protocol."""
    cfg = cfg or EngineConfig()
    cat = TableCatalog(spark, warehouse)
    turn_idx = int(turn_idx)

    # -- recovery: clean committed state, complete a crashed upsert ----------
    meta, j = complete_pending_mutation(spark, cat, cfg)
    if j is not None and (j["conv_id"], j["turn_idx"], j["text"]) == (
        conv_id, turn_idx, text
    ):
        return j["doc_id"]  # the crashed mutation WAS this request

    # -- derive the new mutation's old state from COMMITTED tables only ------
    st = _derive_state(cat, meta, conv_id, turn_idx, text)
    # write-ahead: journal the mutation (atomic swap) before any table write
    _write_journal(cat, st)
    return _apply_upsert(spark, cat, st, cfg, meta)


def _derive_state(
    cat: TableCatalog, meta: dict, conv_id: str, turn_idx: int, text: str
) -> dict:
    """The mutation record: everything a (re-)application needs that the
    mutation itself will overwrite — the doc's id, previous doc_len, and
    previous postings_flat rows."""
    fgd = int(meta["flat_group_docs"])

    docs = cat.read("documents")
    # conv_id filter → parquet row-group pruning (doc ids are assigned in
    # (conv_id, turn_idx) order, so file-level conv_id min/max are tight)
    existing = docs.filter(
        (F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx)
    ).collect()
    if existing:
        doc_id = int(existing[0]["doc_id"])
        old_doc_len = int(existing[0]["doc_len"])
        is_insert = False
    else:
        doc_id = int(meta["max_doc_id"]) + 1
        old_doc_len = 0
        is_insert = True
    dgrp = doc_id // fgd

    # the doc's OLD rows: cell-pruned (sgrp) + doc-id row-group-pruned read
    old_rows = {
        r["term"]: int(r["tf"])
        for r in cat.read("postings_flat").filter(
            (F.col("sgrp") == dgrp)
            & (F.col("bucket") >= 0)
            & (F.col("doc_id") == doc_id)
        ).select("term", "tf").collect()
    }
    return {
        "mut_seq": int(meta["mut_seq"]) + 1,
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "text": text,
        "doc_id": doc_id,
        "old_doc_len": old_doc_len,
        "is_insert": is_insert,
        "old_rows": old_rows,
    }


def _apply_upsert(
    spark: SparkSession,
    cat: TableCatalog,
    st: dict,
    cfg: EngineConfig,
    meta: dict,
) -> int:
    """Apply a journaled mutation. Deterministic given (st, committed meta):
    a retry re-runs every write identically — the cell/shard rewrites are
    idempotent (same content), and the non-idempotent term increments are
    fenced by apply_term_deltas' mut_seq bucket stamps."""
    t0 = time.time()
    conv_id, turn_idx, text = st["conv_id"], st["turn_idx"], st["text"]
    doc_id, old_doc_len = st["doc_id"], st["old_doc_len"]
    site = site_of_conv(conv_id)

    # frozen physical geometry + maintained corpus counters (index_meta):
    # layout is never re-derived, stats are never re-scanned
    shard_size = int(meta["shard_size"])
    nb = int(meta["term_buckets"])
    fgd = int(meta["flat_group_docs"])
    mut_seq = st["mut_seq"]
    dshard = doc_id // shard_size
    dgrp = doc_id // fgd

    counts = lemma_counts(text)
    doc_len = sum(counts.values())
    new_terms = set(counts)
    old_rows = st["old_rows"]
    old_terms = set(old_rows)
    affected = sorted(old_terms | new_terms)
    abuckets = sorted({term_bucket_py(t, nb) for t in affected})

    # --- postings_flat: rewrite ONLY the affected (bucket, doc-group) cells
    #     (+ the doc's marker cell — its #doc_len row changes too) ----------
    new_rows = tiny_df(
        spark,
        [(doc_id, site, t, c) for t, c in sorted(counts.items())]
        + [(doc_id, site, DOCLEN_TERM, doc_len)],
        "doc_id long, site string, term string, tf long",
    )
    cells = [(b, dgrp) for b in abuckets] + [(MARKER_BUCKET, dgrp)]
    cell_cond = F.lit(False)
    for b, _ in cells:
        cell_cond = cell_cond | (F.col("bucket") == b)
    flat = cat.read("postings_flat")
    keep_rows = flat.filter(
        cell_cond & (F.col("sgrp") == dgrp) & (F.col("doc_id") != doc_id)
    ).select("doc_id", "site", "term", "tf")
    from searchengine_spark.operators.postings import flat_bucket_col, sgrp_col

    cat.replace_partitions(
        keep_rows.unionByName(new_rows)
        .withColumn("bucket", flat_bucket_col(F.col("term"), nb))
        .withColumn("sgrp", sgrp_col(F.col("doc_id"), fgd)),
        "postings_flat",
        sorted(cells),
    )

    # --- documents: rewrite the doc's shard partition -----------------------
    docs = cat.read("documents")
    new_doc = tiny_df(
        spark,
        [(doc_id, conv_id, turn_idx, site, doc_len, dshard)],
        TABLES["documents"].schema,
    )
    keep_docs = docs.filter(
        (F.col("shard") == dshard) & (F.col("doc_id") != doc_id)
    ).select("doc_id", "conv_id", "turn_idx", "site", "doc_len", "shard")
    cat.replace_partitions(keep_docs.unionByName(new_doc), "documents", [dshard])

    # --- corpus counters (maintained, never re-scanned) ---------------------
    n_docs = int(meta["n_docs"]) + (1 if st["is_insert"] else 0)
    sum_doc_len = int(meta["sum_doc_len"]) - old_doc_len + doc_len

    # --- terms / terms_global: exact ±increments, bucket rewrites -----------
    deltas = []
    for t in affected:
        d_df = (1 if t in new_terms else 0) - (1 if t in old_terms else 0)
        d_cf = counts.get(t, 0) - old_rows.get(t, 0)
        if d_df or d_cf:
            deltas.append((t, d_df, d_cf))
    n_vocab = 0
    if deltas:
        delta_glob = tiny_df(spark, deltas, "term string, d_df long, d_cf long")
        delta_site = tiny_df(
            spark,
            [(t, site, a, b) for t, a, b in deltas],
            "term string, site string, d_df long, d_cf long",
        )
        n_vocab = apply_term_deltas(
            cat, delta_site, delta_glob, nb, mut_seq, n_docs,
            int(meta["max_term_id"]), cfg.parallelism,
        )

    # --- posting blocks: re-encode affected groups, rewrite ONE shard -------
    re_terms = affected + [DOCLEN_TERM, SITE_TERM]
    blocks = cat.read("postings")
    keep_blocks = blocks.filter(
        (F.col("shard") == dshard) & ~F.col("term").isin(re_terms)
    ).select(
        "term", "block_id", "min_doc", "max_doc", "count",
        "block_max_tf", "doc_gaps", "tfs",
        F.col("shard").cast("long").alias("shard"),
    )
    lo, hi = dshard * shard_size, (dshard + 1) * shard_size
    shard_docs = cat.read("documents").filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    re_flat = cat.read("postings_flat").filter(
        (F.col("sgrp") == dgrp)
        & F.col("bucket").isin(abuckets)
        & F.col("term").isin(affected)
        & (F.col("doc_id") >= lo)
        & (F.col("doc_id") < hi)
    )
    cfg_frozen = dataclasses.replace(cfg, docs_per_shard=shard_size)
    sids = update_sites(cat, {site: (doc_id, doc_id)})
    re_blocks = encode_posting_blocks(
        re_flat, n_docs, None, cat.read("terms_global"), cfg_frozen,
        documents=shard_docs, site_ids=sids,
    )
    cat.replace_partitions(keep_blocks.unionByName(re_blocks), "postings", [dshard])

    # --- commit: counters last (atomic swap — see latedata protocol) --------
    committed = dict(meta)
    committed.update(
        {
            "n_docs": n_docs,
            "sum_doc_len": sum_doc_len,
            "max_doc_id": max(int(meta["max_doc_id"]), doc_id),
            "max_term_id": int(meta["max_term_id"]) + n_vocab,
            "mut_seq": mut_seq,
        }
    )
    cat.write_meta(committed)

    _append_state(
        cat,
        [("incremental", int(doc_id), "DONE", len(counts), conv_id, t0, time.time(), "", "")],
    )
    return doc_id
