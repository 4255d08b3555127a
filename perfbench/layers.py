"""Per-layer metrics of a traced run (``--trace 1``).

Every figure comes from outside the program: spans around calls into each
module's public functions, Spark job groups read back from the status
tracker, in-process calls of the pure kernels over the files the build
wrote, and the sizes of those files. Each metric is listed with the
end-to-end metric it should move:

- ``build_index.*``, ``postings.partition_skew`` and the replayed stage
  calls (``lemmatize.*``, ``postings.*``, ``doc_ids.*``): ``latency_ms`` and
  ``throughput_per_s`` on ``build``; lemmatize and encode also the appends.
- ``codec.*``: predicted to move no query latency while Spark job dispatch
  dominates it (``search.dispatch_share`` near 1).
- ``catalog.bytes.*``: ``index_bytes_per_text_byte``.
- ``search.*``, ``snippets.*``, ``stats.*``: ``latency_ms`` on ``serve``.
- ``ingest.*``, ``incremental.*``, ``compaction.*``, ``search.reload_ms``:
  write cost and freshness (not gated end to end; see CHANGES.md).
- ``analysis.*``: the analysis operators (not gated end to end).
- ``trace.overhead_share``: median traced ÷ median untraced latency of one
  warm request repeated in ABBA order, minus one.
"""

from __future__ import annotations

import os
from statistics import median
from time import perf_counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import checks
import inputs
import workloads
from spans import dir_bytes

from searchengine_spark.config import BM25Params
from searchengine_spark.functions.codec import varint_decode, varint_encode
from searchengine_spark.functions.lemmatize import lemma_counts, query_lemmas
from searchengine_spark.functions.snippets import make_snippet
from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.postings import (
    counts_with_marker,
    encode_posting_blocks,
    flat_postings,
    lemmatize_transcripts,
    term_stats,
)
from searchengine_spark.operators.search import DOCLEN_TERM, make_shard_kernel
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.plans.compaction import appended_shards
from searchengine_spark.queryset import REFERENCE_QUERIES
from searchengine_spark.sources.catalog import TableCatalog
from searchengine_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

TABLES = ["postings", "postings_flat", "documents", "terms", "terms_global"]
PAGE = 20
#: ROADMAP item 1: the layers must account for at least this share of the
#: build's and of a request's wall time
MIN_LAYER_SHARE = 0.9


def probe(run) -> dict[str, tuple[float, str]]:
    m: dict[str, tuple[float, str]] = {}
    build_layers(run, m)
    for t in TABLES:
        m[f"catalog.bytes.{t}"] = (float(dir_bytes(os.path.join(run.warehouse, t))), "bytes")
    for section in (replay_build, codec_layers, search_layers, ingest_layers, analysis_layers):
        t0 = perf_counter()
        section(run, m)
        run.note(f"probe.{section.__name__}_s", perf_counter() - t0, "s")
    return m


def noop(df) -> None:
    """Force every row of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def build_layers(run, m) -> None:
    res, tr = run.build_result, run.tracer
    stages = {s: res.metrics[f"{s}.seconds"] for s in ("documents", "terms", "postings")}
    for s, v in stages.items():
        m[f"build_index.{s}_s"] = (v, "s")
    share = sum(stages.values()) / run.build_s
    m["build_index.stage_share"] = (share, "ratio")
    run.check("build stages account for the build", layer_share(share))
    m["postings.partition_skew"] = (res.metrics.get("postings.partition_skew", 1.0), "ratio")
    jobs, stages_n, tasks = tr.job_counts(run.build_span)
    m["build_index.jobs"] = (float(jobs), "count")
    m["build_index.stages"] = (float(stages_n), "count")
    m["build_index.tasks"] = (float(tasks), "count")


def layer_share(share: float) -> str | None:
    return None if share >= MIN_LAYER_SHARE else f"layers cover {share:.3f} < {MIN_LAYER_SHARE}"


def timed(run, name: str, fn):
    """(seconds, result) of ``fn()`` run in a span named ``name``."""
    with run.tracer.span(name):
        t0 = perf_counter()
        out = fn()
        return perf_counter() - t0, out


def replay_build(run, m) -> None:
    """The documents/terms/postings stages again, one public call at a time,
    each forced by a noop write."""
    spark, cfg = run.spark, run.cfg
    texts = [t for t in run.pdf["text"] if t]
    t0 = perf_counter()
    for t in texts:
        lemma_counts(t)
    m["lemmatize.turns_per_s"] = (len(texts) / (perf_counter() - t0), "turns/s")

    src = run.input_df
    if src.rdd.getNumPartitions() < cfg.parallelism:
        src = src.repartition(cfg.parallelism)
    rows = lemmatize_transcripts(src).select(
        "conv_id", "turn_idx", "site", "doc_len",
        F.explode(counts_with_marker()).alias("term", "tf"),
    )
    m["postings.lemmatize_s"] = (timed(run, "replay:lemmatize", lambda: noop(rows))[0], "s")
    rows_path = os.path.join(run.fresh_dir("replay"), "rows")
    rows.write.parquet(rows_path)

    keys = src.filter(F.col("text").isNotNull() & (F.length("text") > 0)).select(
        "conv_id", "turn_idx"
    )

    def assign():
        ids = assign_doc_ids(keys, parallelism=cfg.parallelism, expect_unique=True)
        ids.count()
        return ids

    seconds, ids = timed(run, "replay:doc_ids", assign)
    m["doc_ids.assign_s"] = (seconds, "s")
    joined = spark.read.parquet(rows_path).join(F.broadcast(ids), ["conv_id", "turn_idx"])
    m["postings.flat_s"] = (timed(run, "replay:flat", lambda: noop(flat_postings(joined)))[0], "s")
    ids.unpersist()

    cat = TableCatalog(spark, run.warehouse)
    flat = cat.read("postings_flat").filter(F.col("bucket") >= 0)
    m["postings.term_stats_s"] = (
        timed(run, "replay:term_stats", lambda: noop(term_stats(flat)))[0], "s"
    )
    meta = cat.read_meta()
    n_docs = int(meta["n_docs"])
    sids = {r["site"]: int(r["sid"]) for r in cat.read("sites").collect()}
    blocks = encode_posting_blocks(
        flat, n_docs, meta["sum_doc_len"] / n_docs, cat.read("terms_global"), cfg,
        documents=cat.read("documents").select("doc_id", "conv_id", "turn_idx", "site", "doc_len"),
        site_ids=sids,
    )
    m["postings.encode_s"] = (timed(run, "replay:encode", lambda: noop(blocks))[0], "s")


def codec_layers(run, m) -> None:
    """Decode then re-encode every varint stream of the built index."""
    tbl = ds.dataset(os.path.join(run.warehouse, "postings"), partitioning="hive").to_table(
        columns=["doc_gaps", "tfs"]
    )
    blobs = [b for col in ("doc_gaps", "tfs") for b in tbl.column(col).to_pylist()]
    mb = sum(len(b) for b in blobs) / 1e6
    t0 = perf_counter()
    arrays = [varint_decode(b) for b in blobs]
    m["codec.decode_mb_per_s"] = (mb / (perf_counter() - t0), "MB/s")
    t0 = perf_counter()
    for a in arrays:
        varint_encode(a)
    m["codec.encode_mb_per_s"] = (mb / (perf_counter() - t0), "MB/s")


def kernel_ms(run, op: dict) -> tuple[float, int]:
    """(in-process kernel ms, blocks read) for an unscoped request: its
    posting blocks read with pyarrow.dataset, scored shard by shard by the
    same ``make_shard_kernel`` the Spark path runs."""
    searcher = run.engine.searcher
    lemmas = sorted(query_lemmas(op["query"]))
    scan = lemmas + ([DOCLEN_TERM] if op["mode"] == "bm25" else [])
    wh = run.warehouse
    blocks = (
        ds.dataset(os.path.join(wh, "postings"), partitioning="hive")
        .to_table(filter=pc.field("term").isin(scan))
        .to_pandas()
    )
    dfs = (
        ds.dataset(os.path.join(wh, "terms"), partitioning="hive")
        .to_table(filter=pc.field("term").isin(lemmas), columns=["term", "df"])
        .to_pandas()
        .groupby("term")["df"]
        .sum()
    )
    idf = {t: BM25Params.idf(searcher.n_docs, int(d)) for t, d in dfs.items()}
    bm = run.cfg.bm25
    kernel = make_shard_kernel(
        lemmas, op["mode"], op["offset"] + PAGE, idf, bm.k1, bm.b, searcher.avgdl, None,
        exact_count=op["kind"] != "bm25_topk",
    )
    t0 = perf_counter()
    for _, g in blocks.groupby("shard"):
        kernel(g.reset_index(drop=True))
    return (perf_counter() - t0) * 1000, len(blocks)


def request(kind: str, query: str | None = None, mode: str = "bm25", id=None) -> dict:
    return {"kind": kind, "id": id, "query": query, "site": None, "offset": 0,
            "mode": mode, "check": True}


def request_spans(tr) -> list[dict]:
    return [s for s in tr.spans if s["name"].startswith("query:")]


def search_layers(run, m) -> None:
    """Phase figures of every traced request span of the run. A serve run
    has its stream's; a build run sends the reference query set in both
    modes. One request of each kind the run lacks is added. Every request
    is checked against the oracle."""
    ts = inputs.term_sites(run.oracle)
    eng, tr = run.engine, run.tracer
    if not request_spans(tr):
        for i, q in enumerate(REFERENCE_QUERIES):
            for mode in ("reference", "bm25"):
                if inputs.short_circuits(ts, query_lemmas(q), mode, None):
                    run.check(f"short-circuit {q!r}", checks.short_circuit(eng, run.oracle, q, mode))
                    continue
                kind = "ref" if mode == "reference" else "bm25"
                workloads.run_op(run, eng, request(kind, q, mode, f"refset-{i}"), traced=True)
    have = {s["op"]["kind"] for s in request_spans(tr)}
    for kind in inputs.MODES:
        if kind not in have:
            workloads.run_op(run, eng, request(kind, "hotalpha walking", id=kind), traced=True)

    kernel, ratio, blocks = [], [], []
    for s in request_spans(tr):
        op = s["op"]
        if op["kind"] in ("ref", "bm25", "bm25_topk") and op["site"] is None:
            k_ms, nb = kernel_ms(run, op)
            kernel.append(k_ms)
            blocks.append(nb)
            ratio.append(1.0 - k_ms / (tr.duration(s) * 1000))
    m["search.kernel_ms"] = (median(kernel), "ms")
    m["search.blocks_per_query"] = (float(median(blocks)), "count")
    m["search.dispatch_share"] = (median(ratio), "ratio")

    spans = request_spans(tr)
    by_kind: dict[str, list[float]] = {}
    phases: dict[str, list[float]] = {}
    shares, jobs, tasks = [], [], []
    for s in spans:
        dur = tr.duration(s)
        by_kind.setdefault(s["name"][6:], []).append(dur * 1000)
        spent = {"plan": s.get("plan_s", 0.0)}
        for c in tr.children(s):
            key = c["name"][6:]
            spent[key] = spent.get(key, 0.0) + tr.duration(c)
        for key, v in spent.items():
            phases.setdefault(key, []).append(v * 1000)
        phases.setdefault("python", []).append((dur - sum(spent.values())) * 1000)
        shares.append(sum(spent.values()) / dur)
        j, _, t = tr.job_counts(s)
        jobs.append(j)
        tasks.append(t)
    for kind in inputs.MODES:
        m[f"search.{kind}_ms"] = (median(by_kind[kind]), "ms")
    for ph in ("plan", "term_stats", "kernel", "doc_meta", "snippet_text", "stats_agg", "python"):
        m[f"search.phase.{ph}_ms"] = (median(phases.get(ph, [0.0])), "ms")
    # the measured phases should account for each request; "python" is the
    # unattributed rest (pandas and Python work)
    m["search.phase_share"] = (median(shares), "ratio")
    run.check("phases account for a request", layer_share(median(shares)))
    m["search.jobs_per_query"] = (float(median(jobs)), "count")
    m["search.tasks_per_query"] = (float(median(tasks)), "count")

    op = request("bm25", workloads.OPEN_QUERY, id="overhead")
    plain, traced = [], []
    for on in (False, True, True, False) * 2:  # ABBA order
        dt = workloads.run_op(run, eng, op, traced=on)
        (traced if on else plain).append(dt)
    m["trace.overhead_share"] = (median(traced) / median(plain) - 1.0, "ratio")

    lemmas = query_lemmas("hotalpha walking data window")
    texts = [t for t in run.pdf["text"] if t][:200]
    t0 = perf_counter()
    for t in texts:
        make_snippet(t, lemmas)
    m["snippets.make_snippet_us"] = ((perf_counter() - t0) / len(texts) * 1e6, "us")


def parquet_files(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }


def write_then_probe(run, out: dict, kind: str, write, token: str, keys: set) -> None:
    """Time one write, count the files it wrote and its jobs, then time the
    searcher reload and the first query, which must find exactly ``keys``;
    the figures go into ``out`` under ``kind``."""
    eng, tr = run.engine, run.tracer
    before = parquet_files(run.warehouse)
    with tr.span(f"ingest:{kind}") as span:
        t0 = perf_counter()
        write()
        out[f"{kind}.s"] = perf_counter() - t0
    after = parquet_files(run.warehouse)
    out[f"{kind}.files"] = sum(1 for p, t in after.items() if before.get(p) != t)
    out[f"{kind}.jobs"] = tr.job_counts(span)[0]
    t0 = perf_counter()
    eng.searcher  # the write dropped the searcher; this reloads it
    out[f"{kind}.reload_ms"] = (perf_counter() - t0) * 1000
    page, count = eng.search(token, mode="bm25")
    out[f"{kind}.fresh_ms"] = (perf_counter() - t0) * 1000
    found = set(zip(page["conv_id"], page["turn_idx"].astype(int)))
    run.check(f"probe after {kind}", None if found == keys and count == len(keys)
              else f"probe {token!r} found {sorted(found)[:3]} ({count}), wrote {sorted(keys)[:3]}")


def ingest_layers(run, m) -> None:
    """One append (a conversation in an existing site and one in a new
    site) and one upsert, each followed by a probe query for a token only
    that write contains; then statistics against the oracle rebuilt on the
    mutated corpus, and compaction of the appended shards."""
    spark, eng, tr, wh = run.spark, run.engine, run.tracer, run.warehouse
    batch = pd.concat(
        [inputs.append_batch(run.seed, 0, site, 10, pd.Timestamp("2026-03-01"))
         for site in ("conv01", "conv07")],
        ignore_index=True,
    )
    docs = run.oracle.documents
    target = docs.iloc[int(np.random.default_rng(run.seed + 3).integers(len(docs)))]
    conv, idx = str(target["conv_id"]), int(target["turn_idx"])
    token = inputs.probe_token(run.seed, 1)
    text = f"{token} hotbeta data"
    w: dict[str, float] = {}
    write_then_probe(
        run, w, "append", lambda: eng.append_turns(spark.createDataFrame(batch, TRANSCRIPTS_SCHEMA)),
        inputs.probe_token(run.seed, 0), set(zip(batch["conv_id"], batch["turn_idx"])),
    )
    write_then_probe(
        run, w, "upsert", lambda: eng.reindex_turn(conv, idx, text), token, {(conv, idx)}
    )
    m["ingest.append_turns_per_s"] = (len(batch) / w["append.s"], "turns/s")
    m["ingest.jobs_per_append"] = (float(w["append.jobs"]), "count")
    m["incremental.upsert_ms"] = (w["upsert.s"] * 1000, "ms")
    m["incremental.jobs_per_upsert"] = (float(w["upsert.jobs"]), "count")
    m["catalog.files_written_per_write"] = ((w["append.files"] + w["upsert.files"]) / 2, "count")
    m["search.reload_ms"] = ((w["append.reload_ms"] + w["upsert.reload_ms"]) / 2, "ms")
    m["ingest.fresh_query_ms"] = ((w["append.fresh_ms"] + w["upsert.fresh_ms"]) / 2, "ms")

    corpus = pd.concat([run.pdf, batch], ignore_index=True)
    corpus.loc[(corpus["conv_id"] == conv) & (corpus["turn_idx"] == idx), "text"] = text
    mutated = OracleEngine().build(corpus)
    run.check("statistics after writes", checks.statistics(eng.statistics(), mutated))
    shards = appended_shards(TableCatalog(spark, wh))
    before = ds.dataset(os.path.join(wh, "postings"), partitioning="hive").to_table(
        filter=pc.field("shard").isin(shards), columns=["term"]
    ).num_rows
    with tr.span("compaction"):
        t0 = perf_counter()
        after = eng.compact_appended()
        m["compaction.compact_s"] = (perf_counter() - t0, "s")
    m["compaction.blocks_before"] = (float(before), "count")
    m["compaction.blocks_after"] = (float(sum(after.values())), "count")
    op = request("bm25", "hotalpha walked", id="post-compaction")
    page, count = workloads.execute(eng, op)
    run.check("search after compaction", checks.search(op, page, count, mutated))


def analysis_layers(run, m) -> None:
    """Each analysis operator once, forced by count(), over seeded
    documents/embeddings tables read from parquet."""
    from searchengine_spark.analysis import ann, dedup, textstats

    spark, tr = run.spark, run.tracer
    docs_pdf, emb_pdf = inputs.analysis_tables(run.seed, run.pdf)
    d = run.fresh_dir("analysis")
    docs_pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    emb_pdf.to_parquet(os.path.join(d, "embeddings.parquet"), index=False)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    cat = TableCatalog(spark, run.fresh_dir("ann"))
    probes = [0, 1, 2, 3, 4]
    n = len(docs_pdf)
    ops = [
        ("exact_duplicates", lambda: dedup.exact_duplicates(docs).count(), n),
        ("minhash_signatures", lambda: dedup.minhash_signatures(docs).count(), None),
        ("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs).count(), None),
        ("simhash_pairs", lambda: dedup.simhash_pairs(docs, bits=16, max_hamming=3).count(), None),
        ("fingerprint", lambda: textstats.fingerprint(docs).count(), n),
        ("token_stats", lambda: textstats.token_stats(docs).count(), n),
        ("lang_id", lambda: textstats.lang_id(docs).count(), n),
        ("cosine_topk", lambda: ann.cosine_topk(emb, probes, k=10, dim=64).count(), 50),
        ("lsh_bucket_pairs", lambda: ann.lsh_bucket_pairs(emb, threshold=0.1, n_bits=8).count(), None),
        ("build_ivf_index", lambda: ann.build_ivf_index(emb, cat, n_centroids=16), None),
        ("ivf_topk_indexed", lambda: ann.ivf_topk_indexed(emb, cat, probes, nprobe=4).count(), None),
    ]
    total = 0.0
    for name, fn, want in ops:
        with tr.span(f"analysis:{name}") as span:
            t0 = perf_counter()
            got = fn()
            dt = perf_counter() - t0
        total += dt
        if want is not None:
            run.check(f"analysis {name}", None if got == want else f"{got} rows, want {want}")
        m[f"analysis.{name}_s"] = (dt, "s")
        m[f"analysis.{name}_jobs"] = (float(tr.job_counts(span)[0]), "count")
        m[f"analysis.{name}_persisted_rdds"] = (
            float(spark.sparkContext._jsc.getPersistentRDDs().size()), "count"
        )
    m["analysis.total_s"] = (total, "s")
