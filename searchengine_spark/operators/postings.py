"""Index-build operators: lemmatize → tf → term stats → compressed blocks.

Spark-first re-expression of the reference's indexing dataflow
(``indexing/PageIndexer.java:89-109`` accumulate tf/df into concurrent maps;
``indexing/IndexingThread.java:127-149`` bulk flush). The concurrent-map
accumulation becomes in-UDF tf maps + hash aggregation for df; the
``search_index`` posting-row table (``model/Index.java:14-40``) becomes
delta+varint block columns built inside a streaming ``mapInArrow`` kernel
(SURVEY §4.3.2).

Scale notes (10^12 turns):
- tf is counted INSIDE the lemmatizer UDF (per-doc ``map<term,tf>``), so no
  per-occurrence row ever crosses a shuffle — the tf agg stage is gone;
  ``site`` rides along as a functionally-dependent column; a doc's length
  is its ``#doc_len`` marker row's tf.
- the block-encode shuffle carries (term_id, doc_id, tf) — terms are
  dictionary-encoded to dense ints BEFORE the shuffle (the string column
  was ~40% of the bytes moved) — grouped as ONE ``list<struct>`` row per
  (shard, term) via ``sort_array(collect_list(...))``: Spark's per-top-
  level-row Arrow conversion is the measured Python-boundary bottleneck,
  and the grouped layout crosses it with ~100× fewer rows while handing
  the kernel sorted runs zero-copy (see :func:`make_group_encoder`).
- memory in the kernel is bounded by one Arrow batch; a (term, shard)
  group is ≤ min(df_in_shard, docs_per_shard) postings and
  ``config.MAX_DOCS_PER_SHARD`` caps that bound independently of
  corpus size (a df≈N stopword term is still split into contiguous,
  independently compressed doc ranges — explicit skew handling; no group
  is ever O(df)). Shards are doc-range aligned across terms, which is
  exactly what the query kernel partitions on.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.functions.lemmatize import lemma_counts_udf
from searchengine_spark.sources.catalog import tiny_df

#: postings per block (SURVEY §4.3.2): one block = ≤BLOCK_SIZE postings of
#: one (term, shard); block metadata powers block-max WAND pruning. Frozen
#: into index_meta at build time.
BLOCK_SIZE = 128

#: mapInArrow output before the term_id → term string join (1/BLOCK_SIZE the
#: row count of the postings themselves, so the join input is small)
_ENC_SCHEMA = (
    "term_id long, shard long, min_doc long, max_doc long, "
    "count int, block_max_tf int, doc_gaps binary, tfs binary"
)

#: reserved pseudo-terms whose blocks carry per-doc forward data co-sharded
#: with real postings, so the kernel never joins the corpus-wide documents
#: table: doc lengths (BM25 norm) and dense site ids (site-scoped search).
#: '#'-prefixed names cannot collide with real lemmas (letters only) and
#: avoid NUL bytes, which the Arrow grouped-map path mishandles (observed:
#: rows with \x00 in a string column are dropped by applyInPandas).
DOCLEN_TERM = "#doc_len"
SITE_TERM = "#site"

#: reserved negative ids for the forward-structure pseudo-terms (real term
#: ids are dense ≥ 0 ranks, so no collision is possible)
_TERM_ID_DOCLEN = -1
_TERM_ID_SITE = -2


#: postings_flat partition value of the per-doc ``#doc_len`` marker rows —
#: its own directory, so pure-posting scans prune it away and the documents
#: stage reads ONLY it (no posting-sized doc_len aggregation anywhere).
MARKER_BUCKET = -1


def term_bucket_col(col, n_buckets: int):
    """Physical partition of the term-keyed tables: crc32(term) mod n.
    CRC32 (not xxhash64) so the DRIVER can compute the same bucket for a
    query term via zlib.crc32 and prune partitions without a Spark job."""
    return F.pmod(F.crc32(col), F.lit(n_buckets)).cast("int")


def flat_bucket_col(term_col, n_buckets: int):
    """postings_flat bucket: real terms hash-bucket; the per-doc doc_len
    marker rows get their own MARKER_BUCKET partition."""
    return (
        F.when(term_col == F.lit(DOCLEN_TERM), F.lit(MARKER_BUCKET))
        .otherwise(term_bucket_col(term_col, n_buckets))
        .cast("int")
    )


def sgrp_col(doc_id_col, flat_group_docs: int):
    """postings_flat second partition level: contiguous doc-range group."""
    return (doc_id_col / F.lit(int(flat_group_docs))).cast("long")


def counts_with_marker():
    """Per-doc lemma map extended with the ``#doc_len`` marker entry —
    exploding this emits the marker row in the SAME pass as the posting
    rows, so per-doc metadata (doc_len, and therefore the documents table)
    never needs a posting-sized aggregation or a second lemmatizer pass.
    Every eligible doc emits ≥1 row (the marker), zero-lemma docs included."""
    return F.map_concat(
        F.create_map(F.lit(DOCLEN_TERM), F.col("doc_len")), F.col("counts")
    )


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket_col` (bit-identical)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def lemmatize_transcripts(transcripts: DataFrame) -> DataFrame:
    """Eligibility filter (T7, ``PageIndexer.java:65-67``) + site derivation
    (SURVEY §1.4) + vectorized lemmatization with in-UDF tf counting (T1–T6)
    + doc_len (BM25 length norm; the reference has none — SURVEY §2.3
    scoring note). Emitting ``map<term,tf>`` per doc instead of a lemma list
    means tf aggregation needs NO shuffle downstream."""
    eligible = transcripts.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return (
        eligible.withColumn("site", F.split("conv_id", "-").getItem(0))
        .withColumn("counts", lemma_counts_udf()(F.col("text")))
        .withColumn(
            "doc_len",
            F.aggregate(
                F.map_values("counts"), F.lit(0), lambda acc, x: acc + x
            ),
        )
    )


def flat_postings(rows_with_ids: DataFrame) -> DataFrame:
    """Uncompressed postings ``(term, doc_id, site, tf)`` — the
    direct analog of one ``search_index`` row (``model/Index.java:14-40``).
    T6 tf counting (``LemmaSearcherImpl.java:25,73-74``) already happened
    inside the lemmatizer UDF and the maps were exploded pre-shuffle, so
    this is a pure filter+project; rows are unique on (doc_id, term) by
    construction. The null-term rows are explode_outer's placeholders for
    eligible docs with zero lemmas (they live in `documents` only)."""
    return (
        rows_with_ids.filter(F.col("term").isNotNull())
        .select("doc_id", "site", "term", F.col("tf").cast("long"))
    )


def idf_col(df_col, n_docs: int):
    """Lucene-style non-negative idf as a Column (``BM25Params.idf``)."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5))
        / (df_col + F.lit(0.5))
    )


def term_stats(flat: DataFrame) -> DataFrame:
    """Per-site terms table (term, site, df, cf): analog of the ``lemma``
    table — df = pages-on-site containing the lemma (``model/Lemma.java:
    14-37``, increment logic ``PageIndexer.java:92-98``). ``flat`` is unique
    on (doc_id, term), so df is a plain count, no countDistinct shuffle.
    ONE aggregation pass over the postings, and the only stored copy of
    df and cf: corpus-global stats are this table's rollup — a doc belongs
    to exactly one site, so Σ_site df == global df. Marker rows are excluded
    defensively (callers already prune the MARKER_BUCKET partition)."""
    return (
        flat.filter(F.col("term") != DOCLEN_TERM)
        .groupBy("term", "site")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


def _binary_array(data: np.ndarray, value_offsets: np.ndarray):
    """Zero-ish-copy Arrow binary array from a uint8 byte stream + int64
    value offsets (length n+1) — avoids materializing one Python ``bytes``
    per posting block."""
    import pyarrow as pa

    off = value_offsets.astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        len(off) - 1,
        [None, pa.py_buffer(off.tobytes()), pa.py_buffer(data.tobytes())],
    )


def make_group_encoder(block_size: int):
    """Build the mapInArrow kernel: record batches of
    ``(shard, term_id, ps: list<struct<doc_id,tf>>)`` — one row per
    (shard, term) group, postings pre-sorted by doc_id JVM-side
    (``sort_array``) — → posting-block rows (_ENC_SCHEMA).

    Why grouped lists instead of flat posting rows: Spark's row→Arrow
    conversion costs ~0.5 µs per top-level row·field and, measured on this
    box, does NOT scale with cores (a 130M-row 4-column mapInArrow
    pass-through took 44 s at 8 cores and 69 s at 2 — efficiency 0.39),
    while the same payload shipped as ~1M list<struct> rows took 17 s at 8
    cores vs 51 s at 2 (efficiency 0.74). Fewer, wider rows move the same
    bytes with 100× less per-row overhead. The Arrow list layout hands the
    kernel exactly what it needs zero-copy: flat child arrays + offsets ==
    run boundaries.

    All per-posting work is vectorized numpy: block boundaries by
    arithmetic on the list offsets, per-block metadata via ``reduceat``,
    ONE varint encode per batch split at block offsets. Peak memory is one
    Arrow batch; a group is ≤ min(df_in_shard, docs_per_shard) postings
    (``config.MAX_DOCS_PER_SHARD`` caps it independently of corpus
    size)."""
    import pyarrow as pa

    from searchengine_spark.functions.codec import varint_encode_array

    fields = pa.schema(
        [
            ("term_id", pa.int64()),
            ("shard", pa.int64()),
            ("min_doc", pa.int64()),
            ("max_doc", pa.int64()),
            ("count", pa.int32()),
            ("block_max_tf", pa.int32()),
            ("doc_gaps", pa.binary()),
            ("tfs", pa.binary()),
        ]
    )

    def encode_batch(shard_rows, tid_rows, off, doc, tf):
        """One batch of complete (shard, term) groups → one RecordBatch.
        ``off`` (len n_groups+1, zero-based) are the run boundaries into the
        flat ``doc``/``tf`` arrays — straight from the Arrow list
        offsets, so runs tile [0, len) contiguously."""
        run_starts, run_ends = off[:-1], off[1:]
        run_lens = run_ends - run_starts
        nblocks = -(-run_lens // block_size)  # ceil; lists are non-empty
        total = int(nblocks.sum())
        run_of_block = np.repeat(np.arange(len(run_lens)), nblocks)
        first_block = np.concatenate(([0], np.cumsum(nblocks)[:-1]))
        block_idx = np.arange(total) - first_block[run_of_block]
        bstart = run_starts[run_of_block] + block_idx * block_size
        bend = np.minimum(bstart + block_size, run_ends[run_of_block])
        # doc-id gaps, absolute at every block start (run starts included —
        # a run's first block starts the run); blocks tile the batch
        # contiguously, so bstart partitions the whole array for reduceat
        gaps = np.empty_like(doc)
        gaps[1:] = doc[1:] - doc[:-1]
        gaps[bstart] = doc[bstart]
        gap_bytes, gap_off = varint_encode_array(gaps)
        tf_bytes, tf_off = varint_encode_array(tf)
        cut = np.concatenate((bstart, [len(doc)]))
        return pa.RecordBatch.from_arrays(
            [
                pa.array(tid_rows[run_of_block], pa.int64()),
                pa.array(shard_rows[run_of_block], pa.int64()),
                pa.array(doc[bstart], pa.int64()),
                pa.array(doc[bend - 1], pa.int64()),
                pa.array((bend - bstart).astype(np.int32), pa.int32()),
                pa.array(
                    np.maximum.reduceat(tf, bstart).astype(np.int32), pa.int32()
                ),
                _binary_array(gap_bytes, gap_off[cut]),
                _binary_array(tf_bytes, tf_off[cut]),
            ],
            schema=fields,
        )

    def encode_groups(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            shard_rows = batch.column("shard").to_numpy(zero_copy_only=False)
            tid_rows = batch.column("term_id").to_numpy(zero_copy_only=False)
            ps = batch.column("ps")
            raw_off = ps.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = ps.values
            doc = vals.field("doc_id").to_numpy(zero_copy_only=False)
            tf = vals.field("tf").to_numpy(zero_copy_only=False)
            # a sliced ListArray's offsets index into the un-sliced child:
            # normalize to zero-based and trim the child arrays
            base, end = int(raw_off[0]), int(raw_off[-1])
            yield encode_batch(
                shard_rows,
                tid_rows,
                raw_off - base,
                doc[base:end],
                tf[base:end],
            )

    return encode_groups


def encode_posting_blocks(
    flat: DataFrame,
    n_docs: int,
    avgdl: float | None,
    dictionary: DataFrame,
    cfg: EngineConfig,
    *,
    documents: DataFrame,
    site_ids: dict[str, int],
) -> DataFrame:
    """flat postings → compressed block rows of the ``postings`` table
    (its ``catalog.TABLES`` schema, ``shard`` still a long).

    Each output row is one block of ≤``BLOCK_SIZE`` postings of one
    ``(term, shard)``: doc-id gaps delta+varint encoded, tfs varint encoded,
    with (min_doc, max_doc, block_max_tf) metadata for block-max WAND
    pruning (SURVEY §4.3.2/§4.3.4). The query kernel bounds a block by
    block_max_tf and the query-time idf, so no score is stored. A term's
    blocks are ordered by ``min_doc``. ``dictionary`` is the
    ``terms_global`` table (term → term_id). ``n_docs`` fixes the shard
    size; ``avgdl`` is unused and stays in the signature only for
    ``perfbench/layers.py``'s positional call.

    Physical plan (the stage the 2-vs-8-core efficiency hinges on):
    1. dense int ``term_id`` per term from ``dictionary`` (assigned once,
       over the vocabulary — NOT the postings);
    2. join ids onto flat postings — the shuffle then carries
       (term_id, doc_id, tf) instead of the term string;
    3. ``groupBy(shard, term_id).agg(sort_array(collect_list(struct(...))))``
       — groups are sorted by doc_id JVM-side and cross the Python boundary
       as ~1/avg-run-length as many top-level rows (list<struct> layout);
       Spark's per-row Arrow conversion overhead is the measured scaling
       bottleneck of this stage, see :func:`make_group_encoder`;
    4. ``mapInArrow`` block encode (:func:`make_group_encoder`) — fully
       vectorized over the batch's flat child arrays;
    5. join the block rows (1/BLOCK_SIZE the posting count) back to term
       strings — AQE broadcasts the dictionary at small vocab, SMJ at 10^9.

    Two forward structures from ``documents`` are encoded into the same
    table under reserved pseudo-terms, co-sharded with real postings so the
    query kernel never joins the 10^12-row documents table:
    - ``DOCLEN_TERM``: (doc_id → doc_len) for BM25 length normalization;
    - ``SITE_TERM``: (doc_id → dense site id from ``site_ids``) for exact
      site-scoped search (``SearchServiceImpl.java:51-54``) under any doc-id
      layout, including after incremental appends (no contiguity
      assumption). ``site_ids`` must be the CORPUS-WIDE mapping, also when
      re-encoding a shard subset (plans/incremental.py).
    """
    spark = flat.sparkSession
    shard_size = cfg.shard_size(n_docs)

    # term_id comes FROM the terms_global table (persistent dictionary —
    # assigned once at build, appended-to by incremental updates); deriving
    # ids here would silently disagree with a cached/stale plan across
    # incremental runs.
    postings = flat.join(dictionary.select("term", "term_id"), "term").select(
        "term_id", "doc_id", F.col("tf").cast("int").alias("tf")
    )
    doclen_rows = documents.select(
        F.lit(_TERM_ID_DOCLEN).cast("long").alias("term_id"),
        "doc_id",
        F.col("doc_len").cast("int").alias("tf"),
    )
    sid_df = F.broadcast(
        tiny_df(spark, sorted(site_ids.items()), "site string, _sid int")
    )
    site_rows = documents.join(sid_df, "site").select(
        F.lit(_TERM_ID_SITE).cast("long").alias("term_id"),
        "doc_id",
        F.col("_sid").alias("tf"),
    )
    postings = postings.unionByName(doclen_rows).unionByName(site_rows)

    shard_col = (F.col("doc_id") / F.lit(shard_size)).cast("long")
    grouped = postings.groupBy(
        shard_col.alias("shard"), F.col("term_id")
    ).agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("ps")
    )
    encoded = grouped.mapInArrow(
        make_group_encoder(BLOCK_SIZE), _ENC_SCHEMA
    )

    dict_df = dictionary.select("term_id", "term").unionByName(
        tiny_df(
            spark,
            [(_TERM_ID_DOCLEN, DOCLEN_TERM), (_TERM_ID_SITE, SITE_TERM)],
            "term_id long, term string",
        )
    )
    return encoded.join(dict_df, "term_id").select(
        "term", "shard", "min_doc", "max_doc", "count",
        "block_max_tf", "doc_gaps", "tfs",
    )
