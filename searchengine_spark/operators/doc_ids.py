"""Dense global doc-id assignment (SURVEY §4.3.1).

The reference gets doc ids for free from MySQL's autoincrement PK
(``model/Page.java:16-18``). At 10^12 rows a single-partition
``row_number()`` window is not an option, so this is the classic two-pass
zipWithIndex shape, expressed with DataFrame ops only:

1. range-partition by the total order ``(conv_id, turn_idx)`` —
   ``repartitionByRange`` keeps partition index == key-range order;
2. one small job counts rows per partition → driver cumsums to offsets
   (P integers, trivially broadcastable at any scale);
3. ``row_number()`` windowed **per partition id** (parallel — no global
   window) + the partition's offset.

The assignment is reproducible for a given input regardless of the sampled
range boundaries: partitions are disjoint ordered key ranges, so
offset(pid) + rank-within-pid is the global rank either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class DuplicateKeysError(ValueError):
    """Input rows repeat the primary key (M4, SURVEY §2.4): the reference's
    PK-backed tables make duplicate (site, path) unrepresentable
    (``model/Page.java:14-39`` unique identity); here a silent
    ``dense_rank`` collapse would corrupt tf semantics with no signal, so
    the build fails loudly instead."""


def assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    parallelism: int = 32,
    id_col: str = "doc_id",
    expect_unique: bool = True,
) -> DataFrame:
    """Add a dense 0-based ``id_col`` ordered by ``key_cols``.

    Keys must be unique: repeated keys raise :class:`DuplicateKeysError`
    (M4), checked in the same job that computes the id offsets, so the
    validation costs no extra pass. ``expect_unique`` is ignored — the check
    always runs; the parameter stays only for ``perfbench/layers.py``'s
    keyword call.

    The range shuffle runs once: its output is cached for the offsets job,
    the returned frame is cached and materialized from it, and the
    shuffle's cache is released before returning. The caller owns the
    returned frame's cache and ``unpersist()``s it when done.
    """
    parts = (
        df.repartitionByRange(parallelism, *[F.col(c) for c in key_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ids = None
    try:
        ids = _ranked(parts, key_cols, id_col).persist(StorageLevel.MEMORY_AND_DISK)
        ids.count()  # fill the cache from ``parts`` before releasing it
        return ids
    except BaseException:
        if ids is not None:
            ids.unpersist()
        raise
    finally:
        parts.unpersist()


def _ranked(parts: DataFrame, key_cols: tuple[str, ...], id_col: str) -> DataFrame:
    """``parts`` (range-partitioned, with ``_pid``) plus ``id_col``: one
    job collects per-partition key counts (the id offsets, and the M4
    duplicate check), then ids are windowed per partition id."""
    count_rows = (
        parts.groupBy("_pid")
        .agg(F.countDistinct(*key_cols).alias("n"), F.count("*").alias("raw"))
        .collect()
    )
    n_dup = sum(r["raw"] - r["n"] for r in count_rows)
    if n_dup:
        raise DuplicateKeysError(
            f"{n_dup} input rows repeat an existing {key_cols} key"
        )
    offsets, acc = {}, 0
    for r in sorted(count_rows, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["n"]
    offsets_df = F.broadcast(
        parts.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    return (
        parts.join(offsets_df, "_pid")
        .withColumn(id_col, F.col("_offset") + F.dense_rank().over(w) - 1)
        .drop("_pid", "_offset")
    )
