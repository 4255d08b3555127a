"""Similarity search over an embedding column (``array<float>``).

Two paths, mirroring production ANN systems:

- :func:`cosine_topk` — brute-force exact top-k for a (small) probe set:
  broadcast the probes, one pass over the corpus, PER-PARTITION partial
  top-k then a merge over ≤ partitions×k rows — no stage ever funnels the
  whole scored corpus into one partition per probe (the global-window
  anti-pattern). Exact; O(n·|probes|·d) — the correctness baseline and the
  right answer when |probes| is small.
- :func:`lsh_sign_buckets` / :func:`lsh_bucket_pairs` — the scale path:
  SEEDED random-hyperplane LSH (n_bits × n_tables, Charikar SimHash for
  cosine) with star-pairing inside each bucket: every member pairs with the
  bucket's canonical (min vec_id) member only, so a bucket of m vectors
  emits m−1 candidate pairs, never m²/2 — 10^6 identical boilerplate
  vectors cost O(n), and near-dup groups still connect through their
  canonical. Candidates are verified with the exact cosine.

All arithmetic is JVM-side (``aggregate``/``zip_with`` over array columns,
cast to double before multiplying — float32 inputs, float64 math, same as
the DuckDB oracle). The hyperplanes are generated from a fixed seed and
inlined as literals into BOTH engines' expressions (oracle.sqlgen emits the
same coefficients), so bucket assignments are bit-identical.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

SCORE_DECIMALS = 5

#: default LSH geometry: 16 bits × 2 tables ⇒ 65536 buckets per table at a
#: 64-dim embedding — bucket count scales 2^n_bits, configurable per corpus
LSH_BITS = 16
LSH_TABLES = 2
LSH_SEED = 42


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(query_id, rank, vec_id, cosine): exact top-k cosine neighbors of each
    probe vector (self excluded). Probes are broadcast; ties broken by
    vec_id asc on the ROUNDED score so ranking is float-order independent.

    Scale shape: stage 1 takes the top-k WITHIN each scan partition
    (shuffle key (query_id, partition) — parallelism × |probes| groups);
    stage 2 merges ≤ partitions×k rows per probe. The merge input is tiny
    regardless of corpus size, unlike a single Window.partitionBy(query_id)
    which would shuffle every scored row of the corpus into one partition
    per probe.

    ``dim`` is accepted (and ignored) for signature stability: an unrolled
    dim-term dot expression was measured 4-7x SLOWER than the
    aggregate/zip_with fold at bench scale (Catalyst planning + per-plan
    codegen on the giant tree dominates, and literal-changing plans
    recompile every call), and at realistic dims (768+) the tree is
    untenable — the fold is the keeper."""
    probes = F.broadcast(
        embeddings.filter(F.col(id_col).isin(probe_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            _norm(F.col(vec_col)).alias("qnrm"),
        )
    )
    dot = _dot(F.col(vec_col), F.col("qvec"))
    nrm = _norm(F.col(vec_col))
    scored = (
        embeddings.crossJoin(probes)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            F.round(
                dot / (nrm * F.col("qnrm")), SCORE_DECIMALS
            ).alias("cosine"),
            F.spark_partition_id().alias("_pid"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    w_part = Window.partitionBy("query_id", "_pid").orderBy(*order)
    partial = (
        scored.withColumn("_r", F.row_number().over(w_part))
        .filter(F.col("_r") <= k)
        .drop("_pid", "_r")
    )
    w_final = Window.partitionBy("query_id").orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def random_hyperplanes(
    n_bits: int = LSH_BITS,
    dim: int = 64,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
) -> np.ndarray:
    """(n_tables, n_bits, dim) standard-normal hyperplanes from a fixed seed
    — data-independent and reproducible on any engine (the oracle inlines
    the same numbers). Rounded to 6 decimals so the SQL literal text and the
    float64 value are identical."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim)).round(6)


def _bucket_col(vec_col: str, planes: np.ndarray):
    """Σ 2^i·[⟨v, h_i⟩ > 0] for one table's (n_bits, dim) planes. Each dot
    product is a left-to-right ``aggregate(zip_with(v, coeffs, *), +)`` fold
    over a literal coefficient array — the same association order the oracle
    SQL's explicit sum evaluates (seed 0.0 + t1 == t1 exactly), so the sign
    test is bit-identical across engines; the array-literal form keeps the
    expression tree ~2× smaller than explicit per-element sums (Catalyst
    analysis/codegen cost grows with node count)."""
    bucket = None
    for i, plane in enumerate(planes):
        coeffs = F.array(*[F.lit(float(c)) for c in plane])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col), coeffs, lambda x, c: x.cast("double") * c
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(2**i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_sign_buckets(
    embeddings: DataFrame,
    n_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, lsh_table, bucket): seeded random-hyperplane LSH over the full
    vector (Charikar sign-random-projection), ``n_tables`` independent
    tables. P[same bucket] = (1 − θ/π)^n_bits per table — n_bits trades
    recall vs bucket size, n_tables recovers recall.

    Pass ``dim`` when known (callers usually know their embedding width) —
    probing it costs an eager ``first()`` Spark job per call. When omitted
    it is probed once here; an empty input returns an empty result rather
    than failing the probe."""
    if dim is None:
        row = embeddings.select(vec_col).first()
        if row is None or row[0] is None:
            return embeddings.sparkSession.createDataFrame(
                [], "vec_id long, lsh_table int, bucket long"
            )
        dim = len(row[0])
    planes = random_hyperplanes(n_bits, dim, n_tables, seed)
    # ONE scan for all tables: compute every table's bucket in the same
    # projection and explode an n_tables-length struct array. The previous
    # unionByName-of-selects shape planned one FileScan PER TABLE — n_tables×
    # the corpus I/O, which is the dominant cost at 100 TB. The per-table
    # bucket expressions are unchanged, so values (and the oracle SQL) are
    # bit-identical; only the plan differs (Scan → Project → Generate).
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("lsh_table"),
                        _bucket_col(vec_col, planes[t]).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select("vec_id", "_tb.lsh_table", "_tb.bucket")


#: Lloyd refinement rounds for the IVF coarse quantizer. Each round is one
#: broadcast-assign pass + one (cid, component) average — the same plan
#: shapes as assignment itself, so the scale story is unchanged.
IVF_ITERS = 2
#: centroid components are rounded after every averaging step so both
#: engines (Spark partial-agg sum order vs DuckDB) converge to identical
#: doubles before the next assignment round reads them
CENTROID_DECIMALS = 6


def ivf_seed_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec): deterministic pseudo-random seed for the coarse
    quantizer — the ``n_centroids`` vectors ranked first by md5(vec_id)
    (a seeded sample both engines can reproduce). ``limit`` compiles to
    distributed TakeOrderedAndProject — no global sort materializes.
    Components are cast to double so the centroid column keeps one type
    across Lloyd iterations."""
    return (
        embeddings.orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "cvec"
            ),
        )
    )


def _dot_d(a, b):
    """Dot product over already-double arrays (same left-to-right fold as
    :func:`_dot`, minus the per-element casts)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _ivf_vecs(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Persisted (vec_id, _v:array<double>, vnrm) projection shared by every
    IVF pass. The iterative Lloyd loop + final assignment + probe scoring
    would otherwise each re-read the corpus (and re-derive the norm per
    centroid comparison); one MEMORY_AND_DISK persist is the standard
    iterative-algorithm move (MLlib KMeans does the same). Input with fewer
    partitions than the session's parallelism (e.g. a single-row-group
    parquet file) is repartitioned once so every later pass is parallel."""
    from pyspark import StorageLevel

    spark = embeddings.sparkSession
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("_v"),
        _norm(F.col(vec_col)).alias("vnrm"),
    )
    n_par = spark.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < max(2, n_par // 2):
        vecs = vecs.repartition(n_par)
    return vecs.persist(StorageLevel.MEMORY_AND_DISK)


def _cents_literal(spark, rows) -> DataFrame:
    """[(cid, [float,...])] → literal (cid, cvec, cnrm) table. The norm is
    computed here once per centroid (Python left-to-right sum = the same
    IEEE fold as :func:`_norm`) instead of per corpus row per pass."""
    import math

    data = [
        (int(cid), [float(x) for x in vec],
         float(math.sqrt(sum(float(x) * float(x) for x in vec))))
        for cid, vec in rows
    ]
    return spark.createDataFrame(
        data, "cid long, cvec array<double>, cnrm double"
    )


def _nearest_cid(
    vecs: DataFrame, cents: DataFrame, dim: int | None = None
) -> DataFrame:
    """(vec_id, cid): nearest centroid by cosine against an explicit
    centroid table. The centroid table is broadcast (k × dim doubles);
    argmin is a min(struct(rounded -cos, cid)) aggregate — deterministic
    under ties, shuffle key = vec_id with map-side partial min. ``dim``
    is ignored (see :func:`cosine_topk` on why the fold beats unrolling;
    an argmin-as-literal-expression variant was also measured and loses —
    centroid literals change every Lloyd round, forcing a fresh Janino
    compile of a k×dim tree per round)."""
    dot = _dot_d(F.col("_v"), F.col("cvec"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            F.round(
                -dot / (F.col("vnrm") * F.col("cnrm")), SCORE_DECIMALS
            ).alias("negcos"),
            F.col("cid").alias("cid"),
        ).alias("key"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("key").alias("key"))
        .select("vec_id", F.col("key.cid").alias("cid"))
    )


def _lloyd_rounds(vecs: DataFrame, seed_rows, iters: int) -> list:
    """Run ``iters`` Lloyd rounds over the persisted projection and return
    the refined [(cid, [double,...])] centroid rows.

    Each round is one broadcast-assign pass plus two aggregates: argmin
    per vec_id (carrying ``_v`` through the aggregate — first() of a
    per-key-constant column — so no join back to the projection is
    needed), then ONE (cid)-keyed aggregate with ``dim``
    partial-aggregated sum columns — map-side combine reduces that
    shuffle to partitions × k × (dim+1) values regardless of corpus size
    (the previous posexplode shape shuffled corpus × dim rows per round).
    The mean + round stays a JVM expression (sum/count, HALF_UP) so both
    engines' Lloyd arithmetic converges to identical doubles."""
    spark = vecs.sparkSession
    rows = list(seed_rows)
    if not rows:
        return rows
    dim = len(rows[0][1])
    for _ in range(iters):
        cents = _cents_literal(spark, rows)
        dot = _dot_d(F.col("_v"), F.col("cvec"))
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "_v",
            F.struct(
                F.round(
                    -dot / (F.col("vnrm") * F.col("cnrm")), SCORE_DECIMALS
                ).alias("negcos"),
                F.col("cid").alias("cid"),
            ).alias("key"),
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(F.min("key").alias("key"), F.first("_v").alias("_v"))
            .select(F.col("key.cid").alias("cid"), "_v")
        )
        sums = (
            assigned.groupBy("cid")
            .agg(
                F.count("*").alias("_n"),
                *[
                    F.sum(F.element_at("_v", i + 1)).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            .select(
                "cid",
                *[
                    F.round(
                        F.col(f"_s{i}") / F.col("_n"), CENTROID_DECIMALS
                    ).alias(f"_c{i}")
                    for i in range(dim)
                ],
            )
        )
        new = {
            r["cid"]: [r[f"_c{i}"] for i in range(dim)]
            for r in sums.collect()
        }
        # a round that empties a cluster keeps its previous centroid
        rows = [(cid, new.get(cid, vec)) for cid, vec in rows]
    return rows


def _seed_rows(
    embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list:
    return [
        (r["cid"], list(r["cvec"]))
        for r in ivf_seed_centroids(
            embeddings, n_centroids, id_col, vec_col
        ).collect()
    ]


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = IVF_ITERS,
) -> DataFrame:
    """(cid, cvec): k-means coarse quantizer — the md5-ranked seed sample
    refined by ``iters`` seeded Lloyd rounds (assign each vector to its
    nearest centroid by cosine, recompute each centroid as the per-component
    mean of its members, rounded to CENTROID_DECIMALS). Labels stay the
    seed vec_ids. Returned as a literal DataFrame (k × dim doubles — O(1)
    metadata, the same move MLlib's KMeans makes) so downstream consumers
    never replay the iterative chain."""
    spark = embeddings.sparkSession
    vecs = _ivf_vecs(embeddings, id_col, vec_col)
    try:
        rows = _lloyd_rounds(
            vecs, _seed_rows(embeddings, n_centroids, id_col, vec_col), iters
        )
    finally:
        vecs.unpersist()
    return spark.createDataFrame(
        [(cid, vec) for cid, vec in rows], "cid long, cvec array<double>"
    )


def ivf_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = IVF_ITERS,
) -> DataFrame:
    """(query_id, rank, vec_id, cosine): IVF approximate top-k — each probe
    scans only the inverted lists of its ``nprobe`` nearest centroids
    (~nprobe/n_centroids of the corpus), then exact cosine + per-partition
    partial top-k + merge, same merge shape as :func:`cosine_topk`.

    Scale path: the corpus-side work is one broadcast-assign pass plus a
    hash join on cid — no corpus-wide window, no n² stage; recall is tuned
    by (n_centroids, nprobe) and the k-means quality of the quantizer
    (``iters`` Lloyd rounds, :func:`ivf_centroids`). The corpus projection
    is persisted once and shared by the Lloyd rounds, the final assignment,
    and the candidate scoring; when the result is driver-small
    (|probes| × k ≤ 10⁵) it is materialized to a literal so the projection
    can be unpersisted eagerly."""
    spark = embeddings.sparkSession
    vecs = _ivf_vecs(embeddings, id_col, vec_col)
    rows = _lloyd_rounds(
        vecs, _seed_rows(embeddings, n_centroids, id_col, vec_col), iters
    )
    cents = _cents_literal(spark, rows)
    dim = len(rows[0][1]) if rows else None
    assign = _nearest_cid(vecs, cents, dim)
    probes = F.broadcast(
        vecs.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("_v").alias("qvec"),
            F.col("vnrm").alias("qnrm"),
        )
    )
    probe_cents = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cid",
            F.round(
                _dot_d(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                SCORE_DECIMALS,
            ).alias("ccos"),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("ccos").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cid")
    )
    cand = assign.join(F.broadcast(probe_cents), "cid").select(
        "query_id", "vec_id"
    )
    scored = (
        cand.join(vecs, "vec_id")
        .join(probes, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot_d(F.col("_v"), F.col("qvec"))
                / (F.col("vnrm") * F.col("qnrm")),
                SCORE_DECIMALS,
            ).alias("cosine"),
            F.spark_partition_id().alias("_pid"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    partial = (
        scored.withColumn(
            "_r", F.row_number().over(Window.partitionBy("query_id", "_pid").orderBy(*order))
        )
        .filter(F.col("_r") <= k)
        .drop("_pid", "_r")
    )
    result = (
        partial.withColumn(
            "rank", F.row_number().over(Window.partitionBy("query_id").orderBy(*order))
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )
    if len(probe_ids) * k <= 100_000:
        out = result.collect()
        vecs.unpersist()
        return spark.createDataFrame(
            [(r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in out],
            "query_id long, rank int, vec_id long, cosine double",
        )
    return result


def build_ivf_index(
    embeddings: DataFrame,
    catalog,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = IVF_ITERS,
    prefix: str = "ann",
) -> dict:
    """Build and PERSIST the IVF index: ``{prefix}_centroids`` (cid, cvec,
    cnrm — k literal rows) and ``{prefix}_lists`` (cid, vec_id, vec, vnrm —
    the inverted lists, PARTITIONED BY cid, carrying each vector + its norm
    so serving never joins back to the source table). ``catalog`` is a
    ``sources.catalog.TableCatalog``.

    This is the served-ANN shape for 100 TB: quantizer training (seed +
    ``iters`` Lloyd rounds) and the full corpus assignment run ONCE here —
    :func:`ivf_topk_indexed` then reads only the probed cids' list
    partitions and runs zero Lloyd/assignment work per query (reference
    analog: the index is persistent, ``repository/IndexRepository.java:10-12``).
    Both tables install via the catalog's temp-dir + atomic-swap
    ``replace`` (lists first, then centroids as the commit marker —
    serving reads centroids first), so a crash at ANY point of a rebuild
    leaves the previous index fully servable: mid-write keeps the old
    lists untouched, mid-swap leaves a ``__old`` twin that
    ``recover_swaps`` restores. Returns
    ``{"n_centroids": k, "n_vectors": n}``."""
    spark = embeddings.sparkSession
    vecs = _ivf_vecs(embeddings, id_col, vec_col)
    try:
        rows = _lloyd_rounds(
            vecs, _seed_rows(embeddings, n_centroids, id_col, vec_col), iters
        )
        cents = _cents_literal(spark, rows)
        dim = len(rows[0][1]) if rows else None
        assign = _nearest_cid(vecs, cents, dim)
        lists = assign.join(vecs, "vec_id").select(
            "cid",
            "vec_id",
            F.col("_v").alias("vec"),
            F.col("vnrm").alias("vnrm"),
        )
        # replace (temp-dir + atomic swap), NOT write: a plain overwrite
        # deletes the previous lists before writing, so a crash mid-rebuild
        # would leave surviving centroids pointing at partial/missing lists
        catalog.replace(
            lists, f"{prefix}_lists",
            partition_by=["cid"], sort_by=["cid", "vec_id"],
        )
        catalog.replace(cents, f"{prefix}_centroids")
        n_vectors = int(
            catalog.read(f"{prefix}_lists").count()
        )
    finally:
        vecs.unpersist()
    return {"n_centroids": len(rows), "n_vectors": n_vectors}


def ivf_topk_indexed(
    embeddings: DataFrame,
    catalog,
    probe_ids: list[int],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "ann",
) -> DataFrame:
    """(query_id, rank, vec_id, cosine): IVF top-k served FROM the persisted
    index (:func:`build_ivf_index`) — bit-identical results to
    :func:`ivf_topk` at the same (n_centroids, nprobe, iters), since the
    stored centroids/assignment/norms are the same doubles and the scoring
    expressions are shared.

    Per-query cost shape: one collect of the k-row centroid table, one tiny
    probe×centroid ranking job (broadcast × literal), then ONE
    partition-pruned scan of the ≤ |probes|·nprobe probed cids' list
    partitions (~nprobe/n_centroids of the corpus) joined against the
    broadcast probe set — no Lloyd rounds, no corpus-wide assignment, no
    join back to the source table (the lists carry vec + norm).
    ``embeddings`` supplies only the PROBE vectors (vec_id-pruned read)."""
    spark = embeddings.sparkSession
    crows = catalog.read(f"{prefix}_centroids").collect()
    cents = spark.createDataFrame(
        [(int(r["cid"]), [float(x) for x in r["cvec"]], float(r["cnrm"]))
         for r in crows],
        "cid long, cvec array<double>, cnrm double",
    )
    probes_df = embeddings.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnrm"),
    )
    pc_rows = (
        probes_df.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cid",
            F.round(
                _dot_d(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                SCORE_DECIMALS,
            ).alias("ccos"),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("ccos").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cid")
        .collect()
    )
    if not pc_rows:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double"
        )
    cids = sorted({int(r["cid"]) for r in pc_rows})
    pc = F.broadcast(
        spark.createDataFrame(
            [(int(r["query_id"]), int(r["cid"])) for r in pc_rows],
            "query_id long, cid long",
        )
    )
    # cid isin → partition pruning: only the probed lists' files are read
    lists = catalog.read(f"{prefix}_lists").filter(F.col("cid").isin(cids))
    scored = (
        lists.join(pc, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(probes_df), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot_d(F.col("vec"), F.col("qvec"))
                / (F.col("vnrm") * F.col("qnrm")),
                SCORE_DECIMALS,
            ).alias("cosine"),
            F.spark_partition_id().alias("_pid"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    partial = (
        scored.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id", "_pid").orderBy(*order)
            ),
        )
        .filter(F.col("_r") <= k)
        .drop("_pid", "_r")
    )
    return (
        partial.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("query_id").orderBy(*order)),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def lsh_bucket_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(a, b, cosine): near-neighbor pairs (a < b) from each (table, bucket),
    deduped across tables, verified by exact cosine ≥ threshold.

    Candidate generation is :func:`dedup.star_pairs`: ALL within-bucket
    pairs for buckets ≤ the cap (exact LSH candidate recall — a true pair
    can't be lost because its bucket canonical is a false-positive
    collision), canonical-star pairs for degenerate hot buckets so
    identical/boilerplate embeddings cannot blow up the verify join — the
    same skewed-key discipline as dedup.ngram_jaccard_pairs'
    max_shingle_df."""
    from searchengine_spark.analysis.dedup import star_pairs

    buckets = lsh_sign_buckets(
        embeddings, n_bits, n_tables, seed, id_col, vec_col, dim=dim
    )
    cand = star_pairs(buckets, ["lsh_table", "bucket"], "vec_id")
    # project (vid, vec, norm) ONCE before the join: each vector's norm is
    # computed in the scan projection (once per vector per side), not
    # re-derived inside the pair expression (once per PAIR per side) — a hot
    # vector in many candidate pairs pays its O(dim) norm a single time
    vecs = embeddings.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vec"),
        _norm(F.col(vec_col)).alias("_nrm"),
    )
    va = vecs.select(
        F.col("_vid").alias("a"), F.col("_vec").alias("_va"), F.col("_nrm").alias("_na")
    )
    vb = vecs.select(
        F.col("_vid").alias("b"), F.col("_vec").alias("_vb"), F.col("_nrm").alias("_nb")
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a",
            "b",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                SCORE_DECIMALS,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
