"""Shared late-data machinery: crash-safe, O(change)-cost index mutations.

Both late-data paths — the synchronous single-turn upsert
(``plans/incremental.py``, the reference's ``POST /api/indexPage``,
``indexing/IndexingThread.java:199-224``) and the Structured-Streaming batch
append (``streaming/ingest.py``) — mutate the same five tables. This module
holds the pieces they share, built around one commit protocol:

1. ``index_meta`` is the COMMIT RECORD. It carries maintained corpus
   counters (n_docs, sum_doc_len, max_doc_id, max_term_id) plus a monotone
   ``mut_seq``, and is written LAST via an atomic directory swap
   (``TableCatalog.write_meta``). A crashed mutation never publishes
   counters, so a retry re-derives the *identical* mutation (same base ids,
   same mut_seq, same new-term ids) from the unchanged meta.
2. Doc-keyed tables (documents, postings_flat, postings) only ever gain
   rows with doc_id > meta.max_doc_id from appends; :func:`fence_orphans`
   therefore identifies a crashed attempt's partial appends as "rows above
   the committed watermark in tail partitions" and drops them with
   partition-pruned rewrites — the retry then redoes the batch from clean
   state. Normal (no-crash) cost: three tiny partition-pruned probe jobs.
3. Term-keyed tables (terms, terms_global) are updated by INCREMENT
   (append-only ⇒ df' = df + batch_df; the upsert adds a ±old-doc
   correction), never by re-aggregating postings_flat — the fix that makes
   a micro-batch O(batch) on the read side. Increments are not naturally
   idempotent, so every updated row is stamped with the mutation's
   ``mut_seq`` and :func:`apply_term_deltas` skips buckets whose
   max(mut_epoch) already reached it (a crashed attempt committed them).
4. New vocabulary ids are ``max_term_id + 1 + rank(term in sorted batch
   vocabulary)`` — deterministic from meta + batch alone, so a retry
   assigns the same ids regardless of which buckets the crashed attempt
   committed. meta.max_term_id then advances by the FULL batch vocabulary
   size (pre-existing terms burn their rank), trading id-space density for
   collision-freedom under partial retries.

Single-writer assumption (one stream / one admin mutation at a time), same
as the reference's ``indexingRunning`` flag (IndexingServiceImpl.java:32-50).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.postings import idf_col, term_bucket_col
from searchengine_spark.sources.catalog import TABLES, TableCatalog, tiny_df

TERMS_GLOBAL_COLS = ["term", "df_global", "cf_global", "idf", "term_id", "bucket", "mut_epoch"]
TERMS_COLS = ["term", "site", "df", "cf", "bucket", "mut_epoch"]


def _uncommitted_buckets(
    table: DataFrame, abuckets: list[int], mut_seq: int
) -> list[int]:
    """Buckets of ``abuckets`` NOT yet stamped with ``mut_seq`` — a crashed
    identical attempt commits whole bucket partitions, so max(mut_epoch)
    per bucket tells the retry exactly which increments already applied."""
    stamped = {
        int(r["bucket"]): int(r["m"])
        for r in table.filter(F.col("bucket").isin(abuckets))
        .groupBy("bucket")
        .agg(F.max("mut_epoch").alias("m"))
        .collect()
    }
    return [b for b in abuckets if stamped.get(b, -1) < mut_seq]


def apply_term_deltas(
    cat: TableCatalog,
    delta_site: DataFrame,
    delta_glob: DataFrame,
    nb: int,
    mut_seq: int,
    n_docs_after: int,
    max_term_id: int,
    parallelism: int,
) -> int:
    """Fold exact (df, cf) increments into terms / terms_global by rewriting
    ONLY the affected term-hash buckets (vocabulary-sized partitions,
    ``TableCatalog.replace_partitions``), reading NOTHING posting-sized.

    ``delta_site``: (term, site, d_df, d_cf); ``delta_glob``:
    (term, d_df, d_cf). Updated rows get fresh idf (from ``n_docs_after``)
    and mut_epoch = ``mut_seq``; untouched rows keep their (stale-allowed)
    idf — the searcher recomputes idf at query time. Rows whose df reaches 0
    are dropped (a term can vanish under an upsert). Returns the batch
    vocabulary size (the number of term-id ranks consumed — the caller
    advances meta.max_term_id by this).
    """
    dg = delta_glob.withColumn("bucket", term_bucket_col(F.col("term"), nb))
    bucket_counts = dg.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    abuckets = sorted(int(r["bucket"]) for r in bucket_counts)
    n_vocab = sum(int(r["n"]) for r in bucket_counts)
    if not abuckets:
        return 0

    # deterministic new-term ids: rank over the FULL batch vocabulary (see
    # module docstring, property 4)
    ranked = assign_doc_ids(
        delta_glob.select("term", "d_df", "d_cf"),
        key_cols=("term",),
        parallelism=parallelism,
        id_col="_rank",
        persist=False,
    ).withColumn("_new_id", F.col("_rank") + F.lit(max_term_id + 1))

    tg = cat.read("terms_global")
    rw = _uncommitted_buckets(tg, abuckets, mut_seq)
    if rw:
        dgb = (
            ranked.withColumn("bucket", term_bucket_col(F.col("term"), nb))
            .filter(F.col("bucket").isin(rw))
            .select("term", "d_df", "d_cf", "_new_id", F.col("bucket").alias("_dbucket"))
        )
        old = tg.filter(F.col("bucket").isin(rw)).select(*TERMS_GLOBAL_COLS)
        merged = (
            old.join(dgb, "term", "full_outer")
            .withColumn("_changed", F.col("d_df").isNotNull())
            .select(
                "term",
                (F.coalesce("df_global", F.lit(0)) + F.coalesce("d_df", F.lit(0)))
                .cast("long").alias("df_global"),
                (F.coalesce("cf_global", F.lit(0)) + F.coalesce("d_cf", F.lit(0)))
                .cast("long").alias("cf_global"),
                F.col("idf").alias("_old_idf"),
                F.coalesce("term_id", "_new_id").cast("long").alias("term_id"),
                F.coalesce("bucket", "_dbucket").cast("int").alias("bucket"),
                F.when(F.col("d_df").isNotNull(), F.lit(mut_seq))
                .otherwise(F.col("mut_epoch")).cast("long").alias("mut_epoch"),
                "_changed",
            )
            .filter(F.col("df_global") > 0)
            .withColumn(
                "idf",
                F.when(
                    F.col("_changed"), idf_col(F.col("df_global"), n_docs_after)
                ).otherwise(F.col("_old_idf")),
            )
            .select(*TERMS_GLOBAL_COLS)
        )
        cat.replace_partitions(merged, "terms_global", rw)

    ts = cat.read("terms")
    rw_s = _uncommitted_buckets(ts, abuckets, mut_seq)
    if rw_s:
        dsb = (
            delta_site.withColumn("bucket", term_bucket_col(F.col("term"), nb))
            .filter(F.col("bucket").isin(rw_s))
            .select("term", "site", "d_df", "d_cf", F.col("bucket").alias("_dbucket"))
        )
        old_s = ts.filter(F.col("bucket").isin(rw_s)).select(*TERMS_COLS)
        merged_s = (
            old_s.join(dsb, ["term", "site"], "full_outer")
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
        cat.replace_partitions(merged_s, "terms", rw_s)
    return n_vocab


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
    cat: TableCatalog, batch_ranges: dict[str, tuple[int, int]]
) -> dict[str, int]:
    """Merge per-site doc-id ranges from a mutation into the sites table;
    brand-new sites get max+1 sid appends (existing ids never shift).
    Min/max merging makes a retry idempotent. Returns the full site → sid
    map (the encoder's SITE_TERM input)."""
    rows = {
        r["site"]: [int(r["sid"]), int(r["lo"]), int(r["hi"])]
        for r in cat.read("sites").collect()
    }
    next_sid = max((v[0] for v in rows.values()), default=-1) + 1
    changed = False
    for s in sorted(batch_ranges):
        lo, hi = batch_ranges[s]
        if s in rows:
            cur = rows[s]
            if lo < cur[1] or hi > cur[2]:
                cur[1], cur[2] = min(cur[1], lo), max(cur[2], hi)
                changed = True
        else:
            rows[s] = [next_sid, lo, hi]
            next_sid += 1
            changed = True
    if changed:
        cat.replace(
            tiny_df(
                cat.spark,
                sorted((s, v[0], v[1], v[2]) for s, v in rows.items()),
                TABLES["sites"].schema,
            ),
            "sites",
        )
    return {s: v[0] for s, v in rows.items()}
