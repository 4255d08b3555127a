"""Index-build pipeline: transcripts → documents/terms/postings tables,
checkpointed per stage with lineage + metrics (SURVEY §3.2 target lifecycle,
§4.3.5).

The reference's analog is ``IndexingThread.run`` (``indexing/IndexingThread
.java:48-77``): crawl into concurrent maps, bulk-save, flip ``Site.status``
INDEXING→INDEXED/FAILED with ``status_time``/``last_error``
(``model/Site.java:21-27``). Here each stage writes one table; a
``build_state`` table records per-stage/per-partition status, row counts,
checksums and timings, and a rerun resumes by skipping stages whose outputs
are committed (strictly stronger than the reference, which restarts a site
from scratch on interrupt — ``IndexingServiceImpl.java:52-65``).

Shuffle budget at scale (SURVEY §3.2): one range shuffle for doc-ids (tf is
counted inside the lemmatizer UDF — no per-occurrence shuffle exists), one
hash shuffle laying postings_flat out by term, one hash shuffle for doc-range
shard block encoding, plus the small term-stats aggregations over the
term-partitioned flat table. `text` is never carried past the lemmatize
stage (late materialization, §4.1).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.postings import (
    encode_posting_blocks,
    flat_postings,
    lemmatize_transcripts,
    term_stats,
)
from searchengine_spark.sources.catalog import TableCatalog, tiny_df

BUILD_STATE_SCHEMA = (
    "stage string, partition_id long, status string, rows long, checksum string, "
    "started_ts double, finished_ts double, error string, run_id string"
)
METRICS_SCHEMA = "run_id string, stage string, key string, value double, ts double"


@dataclass
class BuildResult:
    catalog: TableCatalog
    run_id: str
    n_docs: int
    avgdl: float
    metrics: dict[str, float] = field(default_factory=dict)
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)


def _append_state(cat: TableCatalog, rows: list[tuple]) -> None:
    tiny_df(cat.spark, rows, BUILD_STATE_SCHEMA).write.mode("append").parquet(
        cat.path("build_state")
    )


def _append_metrics(cat: TableCatalog, rows: list[tuple]) -> None:
    tiny_df(cat.spark, rows, METRICS_SCHEMA).write.mode("append").parquet(
        cat.path("metrics")
    )


def _done_stages(cat: TableCatalog) -> set[str]:
    """Stages with a committed DONE marker — read ONCE per build (a
    per-stage×per-table read was ~6 small jobs of fixed overhead)."""
    if not cat.exists("build_state"):
        return set()
    try:
        return {
            r["stage"]
            for r in cat.read("build_state")
            .filter((F.col("status") == "DONE") & (F.col("partition_id") == -1))
            .select("stage")
            .distinct()
            .collect()
        }
    except Exception:
        return set()


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    cfg: EngineConfig | None = None,
    resume: bool = True,
    run_id: str | None = None,
) -> BuildResult:
    """Build (or resume building) the full index under ``warehouse``.

    Stages (each checkpointed as a table):
      1. ``documents`` — eligibility filter + lemmatize + dense doc-ids;
         also writes ``postings_flat`` (the uncompressed posting rows, the
         direct ``search_index`` analog and the block encoder's input).
      2. ``terms`` (per-site df/cf/idf) + ``terms_global``.
      3. ``postings`` — delta+varint blocks incl. co-sharded doc_len blocks.
    """
    cfg = cfg or EngineConfig()
    cat = TableCatalog(spark, warehouse)
    run_id = run_id or uuid.uuid4().hex[:12]
    res = BuildResult(catalog=cat, run_id=run_id, n_docs=0, avgdl=0.0)

    # metrics are buffered in memory and written ONCE at the end of the
    # build — a metrics row is observability, not a checkpoint, and each
    # tiny parquet append is a whole Spark job of fixed overhead (tiny_df
    # keeps it ~0.4 s). The build_state RUNNING/DONE markers, by contrast,
    # MUST be durable per stage (status lifecycle + resume correctness).
    metric_buf: list[tuple] = []

    done_stages = _done_stages(cat) if resume else set()

    def run_stage(stage: str, out_tables: list[str], fn) -> None:
        if (
            resume
            and stage in done_stages
            and all(cat.exists(t) for t in out_tables)  # fs check, no job
        ):
            res.stages_skipped.append(stage)
            return
        t0 = time.time()
        # RUNNING marker (Site.Status.INDEXING analog, model/Site.java:21-27,
        # flipped by indexing/IndexingThread.java:57,75-76): one tiny
        # single-row write per stage so an in-flight build is observable —
        # the per-PARTITION running writes stay dropped (those were the
        # measured overhead; one row per stage is three small jobs per build)
        _append_state(cat, [(stage, -1, "RUNNING", 0, "", t0, 0.0, "", run_id)])
        try:
            part_rows = fn()  # list[(partition_id, rows, checksum)]
        except Exception as e:  # FAILED analog: Site.last_error (Site.java:25)
            _append_state(
                cat, [(stage, -1, "FAILED", 0, "", t0, time.time(), str(e)[:500], run_id)]
            )
            # completed stages' metrics must survive a failed run: on resume
            # those stages are skipped as DONE and would otherwise never get
            # their rows recorded
            if metric_buf:
                _append_metrics(cat, metric_buf)
                metric_buf.clear()
            raise
        t1 = time.time()
        total = sum(r for _, r, _ in part_rows)
        states = [
            (stage, int(pid), "DONE", int(rows), str(ck), t0, t1, "", run_id)
            for pid, rows, ck in part_rows
        ]
        states.append((stage, -1, "DONE", total, "", t0, t1, "", run_id))
        _append_state(cat, states)
        metric_buf.extend(
            [
                (run_id, stage, "seconds", t1 - t0, t1),
                (run_id, stage, "rows", float(total), t1),
                (run_id, stage, "rows_per_sec", total / max(t1 - t0, 1e-9), t1),
            ]
        )
        res.metrics[f"{stage}.seconds"] = t1 - t0
        res.metrics[f"{stage}.rows"] = total
        res.stages_run.append(stage)

    # ---- stage 1: documents + flat postings --------------------------------
    def stage_documents():
        # Under-split inputs (one big parquet file / few row groups) would
        # run the lemmatizer UDF in 1-2 tasks regardless of cluster size —
        # rebalance the RAW rows first so the UDF parallelism == cluster
        # parallelism. Well-partitioned Iceberg inputs skip this (no-op
        # branch, no shuffle).
        src = transcripts
        if src.rdd.getNumPartitions() < cfg.parallelism:
            src = src.repartition(cfg.parallelism)
        # Doc-id assignment runs on the KEY COLUMNS ONLY, straight off the
        # input table (no lemmatizer in that lineage): the range shuffle +
        # its sampling pass + the persisted cache all carry 2 skinny columns
        # per turn. The heavyweight side (lemmatize → explode to posting
        # rows) is computed in ONE pass and picks its doc ids up via an
        # equi-join that AQE turns into a broadcast at sandbox scale and a
        # sort-merge join at 10^12 (either way `text`, lemma maps and
        # posting rows never enter the doc-id shuffle).
        eligible_keys = src.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        ).select("conv_id", "turn_idx")
        # expect_unique: duplicate (conv_id, turn_idx) keys fail the build
        # loudly (M4) instead of silently collapsing inside dense_rank
        ids = assign_doc_ids(
            eligible_keys, parallelism=cfg.parallelism,
            expect_unique=cfg.validate_input_keys,
        )
        n_ids = ids.count()  # materializes the cache; n_docs for free

        from searchengine_spark.operators.postings import (
            MARKER_BUCKET,
            counts_with_marker,
            flat_bucket_col,
            sgrp_col,
        )

        rows = lemmatize_transcripts(src).select(
            "conv_id",
            "turn_idx",
            "site",
            "doc_len",
            # the #doc_len marker entry rides the SAME explode as the real
            # postings: per-doc metadata costs zero extra passes/shuffles
            # (the marker rows land in their own MARKER_BUCKET partition)
            F.explode(counts_with_marker()).alias("term", "tf"),
        )
        # broadcast the id map when it fits (≈30 B/doc → tens of millions of
        # docs): the 30×-larger posting-row side then never shuffles for the
        # join. Past that, PIN sort-merge — at 10^12 docs nothing else is
        # possible and the SMJ shuffle is the price of dense global ids.
        # The explicit merge hint matters: size ESTIMATES (compressed
        # shuffle/parquet bytes) for a doc-cardinality side can dip under
        # autoBroadcastJoinThreshold even when the deserialized hash
        # relation is ~100 B/row — at 16M docs that's a ~1.5 GB build on
        # every executor, an OOM on small-heap executors (observed: 4×2 GiB
        # executors died in UnsafeHashedRelation.read on the 15.5M-doc
        # fixture before this hint existed).
        if n_ids <= cfg.broadcast_ids_max:
            id_side = F.broadcast(ids)
        else:
            id_side = ids.hint("merge")
        joined = rows.join(id_side, ["conv_id", "turn_idx"])
        # physical layout for incremental upserts (M1): postings_flat is
        # PARTITIONED by (term-hash bucket, doc-range group) — an upsert
        # rewrites only the touched CELLS (corpus/(nb·n_groups) rows each),
        # and the streaming recovery fence reads only the tail group's cells.
        # Files are sorted by doc_id so doc-range predicates (M1 old-term
        # lookup, shard re-encode, orphan fencing) hit parquet row-group
        # min/max pruning.
        nb = cfg.n_term_buckets(n_ids)
        shard_size = cfg.shard_size(n_ids)
        fgd = cfg.flat_group_docs(shard_size, n_ids)

        flat_b = (
            flat_postings(joined)
            .withColumn("bucket", flat_bucket_col(F.col("term"), nb))
            .withColumn("sgrp", sgrp_col(F.col("doc_id"), fgd))
        )
        cat.write(
            flat_b.repartition(cfg.parallelism, "bucket"),
            "postings_flat",
            partition_by=["bucket", "sgrp"],
            sort_by=["bucket", "sgrp", "doc_id", "term"],
        )
        # documents = every eligible turn; doc_len is the marker row's tf
        # (one pruned directory, n_docs skinny rows — never a posting-sized
        # aggregation, never a second lemmatizer pass)
        markers = (
            cat.read("postings_flat")
            .filter(F.col("bucket") == MARKER_BUCKET)
            .select("doc_id", F.col("tf").cast("int").alias("doc_len"))
        )
        # markers is doc-cardinality too, but its STATIC size estimate is
        # the pruned marker directory's parquet bytes — sorted int64 pairs
        # compress so well that 15M docs still looked broadcastable to the
        # planner; pin sort-merge above the same gate as the id join.
        if n_ids > cfg.broadcast_ids_max:
            markers = markers.hint("merge")
        docs = (
            ids.withColumn("site", F.split("conv_id", "-").getItem(0))
            .join(markers, "doc_id", "left")
            .fillna(0, subset=["doc_len"])
            .select("doc_id", "conv_id", "turn_idx", "site", "doc_len")
            .withColumn(
                "shard", (F.col("doc_id") / F.lit(shard_size)).cast("long")
            )
        )
        cat.write(
            docs.repartition(cfg.parallelism, "shard"),
            "documents",
            partition_by=["shard"],
            sort_by=["shard", "doc_id"],
        )
        ids.unpersist()
        d = cat.read("documents")
        lineage = (
            d.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.crc32(F.concat_ws("|", "conv_id", "turn_idx"))).alias("ck"),
            )
            .collect()
        )
        return [(r["pid"], r["rows"], r["ck"]) for r in lineage]

    run_stage("documents", ["documents", "postings_flat"], stage_documents)

    documents = cat.read("documents")
    # corpus stats + dense site map + per-site doc-id ranges in ONE job
    # (site count is small by the model — a corpus grouping, not a per-doc
    # value). The totals seed index_meta's maintained counters; the ranges
    # go into the sites table so the searcher init reads NO corpus-sized
    # table (plans/incremental.py and streaming/ingest.py keep both current).
    site_rows = (
        documents.groupBy("site")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_len").alias("s"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    )
    res.n_docs = sum(int(r["n"]) for r in site_rows)
    sum_doc_len = sum(int(r["s"] or 0) for r in site_rows)
    res.avgdl = sum_doc_len / res.n_docs if res.n_docs else 0.0
    site_stats = {r["site"]: (int(r["lo"]), int(r["hi"])) for r in site_rows}
    site_ids = {s: i for i, s in enumerate(sorted(site_stats))}

    # ---- stage 2: term dictionaries ----------------------------------------
    def stage_terms():
        # ONE aggregation pass over the postings (term, site); the global
        # stats roll up from the WRITTEN per-site table (vocabulary-sized
        # input — Σ_site df == global df since a doc has exactly one site),
        # so the posting-sized agg never runs twice.
        from searchengine_spark.operators.postings import (
            global_term_stats,
            term_bucket_col,
        )

        nb = cfg.n_term_buckets(res.n_docs)
        # partition pruning skips the MARKER_BUCKET directory entirely
        flat = cat.read("postings_flat").filter(F.col("bucket") >= 0)
        # mut_epoch = last mutation sequence that touched the row (0 at
        # build): the late-data paths stamp updated rows with their mut_seq
        # and use per-bucket max(mut_epoch) to detect — and skip — buckets a
        # crashed attempt already incremented (idempotent retries).
        per_site = (
            term_stats(flat)
            .withColumn("bucket", term_bucket_col(F.col("term"), nb))
            .withColumn("mut_epoch", F.lit(0).cast("long"))
        )
        cat.write(
            per_site.repartition(cfg.parallelism, "bucket"),
            "terms",
            partition_by=["bucket"],
            sort_by=["bucket", "term"],
        )
        g = (
            global_term_stats(cat.read("terms"), res.n_docs, cfg.parallelism)
            .withColumn("bucket", term_bucket_col(F.col("term"), nb))
            .withColumn("mut_epoch", F.lit(0).cast("long"))
        )
        cat.write(
            g.repartition(cfg.parallelism, "bucket"),
            "terms_global",
            partition_by=["bucket"],
            sort_by=["bucket", "term"],
        )
        n_terms = cat.read("terms_global").count()
        return [(0, n_terms, "")]

    run_stage("terms", ["terms", "terms_global"], stage_terms)

    # ---- stage 3: compressed posting blocks --------------------------------
    def stage_postings():
        flat = cat.read("postings_flat").filter(F.col("bucket") >= 0)
        sids = site_ids
        # sites table carries the per-site doc-id ranges (shard-scan pruning
        # bounds) so the searcher init never scans documents; late-data
        # paths extend lo/hi incrementally
        cat.write(
            tiny_df(
                spark,
                sorted(
                    (s, i, site_stats[s][0], site_stats[s][1])
                    for s, i in sids.items()
                ),
                "site string, sid long, lo long, hi long",
            ),
            "sites",
        )
        blocks = encode_posting_blocks(
            flat, res.n_docs, None, cat.read("terms_global"), cfg,
            documents=documents, site_ids=sids,
        )
        # PARTITIONED by doc-range shard: the incremental path rewrites one
        # shard's directory, and a site/doc-range-scoped query could prune
        # whole partitions. The encode exchange is hashed on (shard, term),
        # which scatters a shard's blocks across tasks — re-cluster the
        # (small, 1/block_size-sized) block rows by shard first so each
        # task writes only its own few shard dirs, not shards×tasks files
        cat.write(
            blocks.repartition(cfg.parallelism, "shard"),
            "postings",
            partition_by=["shard"],
            sort_by=["shard", "term"],
        )
        # freeze the physical geometry (shard size, bucket count, flat group
        # width — layout, never re-derived from drifting corpus stats) and
        # seed the MAINTAINED counters: every late-data path reads corpus
        # stats from here and commits its increments here LAST (index_meta
        # is the mutation commit record — catalog.write_meta swaps the
        # directory atomically, so a crashed append/upsert never publishes
        # partial counters).
        _max_tid = cat.read("terms_global").agg(F.max("term_id")).collect()[0][0]
        max_term_id = int(_max_tid) if _max_tid is not None else -1
        shard_size = cfg.shard_size(res.n_docs)
        cat.write_meta(
            {
                "shard_size": shard_size,
                "block_size": cfg.block_size,
                "built_n_docs": res.n_docs,
                "term_buckets": cfg.n_term_buckets(res.n_docs),
                "flat_group_docs": cfg.flat_group_docs(shard_size, res.n_docs),
                "n_docs": res.n_docs,
                "sum_doc_len": sum_doc_len,
                "max_doc_id": res.n_docs - 1,
                "max_term_id": max_term_id,
                "mut_seq": 0,
                "stream_epoch": -1,
            }
        )
        written = cat.read("postings")
        lineage = (
            written.groupBy("shard")
            .agg(F.sum("count").alias("rows"), F.count("*").alias("blocks"))
            .collect()
        )
        # skew metric: max/mean postings per doc-range shard (SURVEY §4.3.5)
        sizes = [r["rows"] for r in lineage]
        if sizes:
            skew = max(sizes) / (sum(sizes) / len(sizes))
            metric_buf.append(
                (run_id, "postings", "partition_skew", float(skew), time.time())
            )
            res.metrics["postings.partition_skew"] = skew
        return [(r["shard"], r["rows"], "") for r in lineage]

    run_stage("postings", ["postings", "index_meta", "sites"], stage_postings)

    # ---- headline throughput metrics ---------------------------------------
    total_secs = sum(
        v for k, v in res.metrics.items() if k.endswith(".seconds")
    )
    if total_secs > 0 and res.n_docs:
        res.metrics["turns_per_sec"] = res.n_docs / total_secs
        n_post = res.metrics.get("postings.rows", 0.0)
        res.metrics["postings_per_sec"] = n_post / total_secs
        metric_buf.extend(
            [
                (run_id, "build", "turns_per_sec", res.metrics["turns_per_sec"], time.time()),
                (run_id, "build", "postings_per_sec", res.metrics["postings_per_sec"], time.time()),
            ]
        )
    if metric_buf:
        _append_metrics(cat, metric_buf)
    return res
