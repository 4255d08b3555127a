"""Table catalog: the engine's storage layer.

The design target is Iceberg (BASELINE.json input_hint: "Iceberg table of
multi-turn conversation/agent transcripts"); the reference's analog is MySQL
tables created by Hibernate (``application.yaml:5-20``). This sandbox image
has no Iceberg runtime jars on the classpath, so the catalog is written
against a minimal interface with two backends:

- ``parquet`` (always available): each table is a parquet directory under the
  warehouse root; ``overwrite`` is an atomic-enough directory replace;
  "snapshot id" is a content fingerprint recorded in build_state.
- ``iceberg`` (import/classpath-gated): same interface via
  ``df.writeTo(f"{cat}.{db}.{name}")`` — enabled automatically when
  ``spark.sql.catalog.*`` for an Iceberg catalog is configured.

Everything above this module (build pipeline, checkpoints, query path) is
backend-agnostic, so pointing the engine at a real Iceberg catalog on a
cluster is a config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def tiny_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Single-partition DataFrame for metadata-sized writes. Measured on
    this Spark build: writing a driver-local ``createDataFrame(list)``
    (LocalRelation) costs 5-8 s per tiny append, while the same rows via
    ``parallelize(rows, 1)`` cost ~0.4 s — and a build does ~7 such writes
    (state markers, metrics, meta tables)."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def check_index_format(meta: dict, sites: DataFrame) -> None:
    """The searcher and every mutation read these index_meta keys (every
    build writes them, plans/build_index.py) and the ``sites`` table's
    ``lo``/``hi`` range directly. A warehouse from before that format raises
    an explicit 'index format too old' error naming what is missing."""
    keys = (
        "shard_size", "n_docs", "sum_doc_len", "term_buckets",
        "flat_group_docs", "mut_seq",
    )
    missing = [k for k in keys if k not in meta] + [
        f"sites.{c}" for c in ("lo", "hi") if c not in sites.columns
    ]
    if missing:
        raise RuntimeError(
            f"index format too old: index lacks {', '.join(missing)} — "
            "rebuild the index with SearchEngine.build()"
        )


class TableCatalog:
    def __init__(self, spark: SparkSession, warehouse: str, iceberg_catalog: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.iceberg_catalog = iceberg_catalog
        if iceberg_catalog is None and self._iceberg_available():
            self.iceberg_catalog = os.environ.get("SEARCHENGINE_ICEBERG_CATALOG")

    def _iceberg_available(self) -> bool:
        # NB: plain `_jvm.org.apache.iceberg.Schema` is NOT a valid check —
        # py4j returns a truthy JavaPackage for any missing class; only
        # Class.forName actually consults the classpath
        try:
            self.spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.Schema"
            )
            return True
        except Exception:
            return False

    # -- paths / names -------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _ident(self, name: str) -> str:
        return f"{self.iceberg_catalog}.{name}"

    # -- IO ------------------------------------------------------------------
    def exists(self, name: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        p = self.path(name)
        return os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, name: str) -> DataFrame:
        if self.iceberg_catalog:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None, sort_by: list[str] | None = None) -> None:
        """Write a table. ``sort_by`` emulates Iceberg's ``WRITE ORDERED BY``
        (file-level min/max skipping on the sort key — SURVEY §4.1 pushdown
        row) by sorting within partitions before writing, which gives parquet
        row-group min/max stats the same pruning power."""
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        if self.iceberg_catalog:
            w = df.writeTo(self._ident(name))
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            return
        writer = df.write.mode("overwrite" if mode == "overwrite" else "append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def _swap_dir(self, src: str, dst: str) -> None:
        """Crash-safe directory replace: move the old dir ASIDE (rename, not
        rmtree) before moving the replacement in, then delete the old one.
        The destination is absent only between two same-filesystem renames;
        a crash in that window leaves ``dst__old`` on disk, which
        :meth:`recover_swaps` restores — the previous rmtree-first swap left
        an unrecoverable EMPTY partition, which the increment-based terms
        maintenance would silently rebuild from deltas alone (losing every
        other term in the bucket)."""
        import shutil

        old = dst + "__old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(dst):
            os.rename(dst, old)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        shutil.rmtree(old, ignore_errors=True)

    def recover_swaps(self, name: str) -> bool:
        """Repair a crashed :meth:`_swap_dir`: any ``*__old`` directory under
        the table whose final twin is MISSING is renamed back (crash between
        rename-out and move-in); one whose twin exists is deleted (crash
        after move-in, before cleanup — the new content already won). Called
        by every mutation entry point BEFORE reading committed state (the
        single-writer protocol's recovery step). Returns True if anything
        was repaired. No-op under Iceberg (snapshot isolation)."""
        if self.iceberg_catalog:
            return False
        import shutil

        base = self.path(name)
        if not os.path.isdir(base):
            return False
        pending = []
        for root, dirs, _files in os.walk(base):
            for d in dirs:
                if d.endswith("__old"):
                    pending.append(os.path.join(root, d))
        if base.endswith("__old"):  # whole-table swap crashed
            pending.append(base)
        repaired = False
        for old in pending:
            dst = old[: -len("__old")]
            if os.path.isdir(dst):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, dst)
            repaired = True
        if repaired:
            self.spark.catalog.refreshByPath(self.path(name.removesuffix("__old")))
        return repaired

    def recover_all(self) -> list[str]:
        """Run :meth:`recover_swaps` over every table dir in the warehouse
        (driver-side fs walk, no Spark job). Mutation entry points call this
        once before their first read."""
        if self.iceberg_catalog or not os.path.isdir(self.warehouse):
            return []
        out = []
        for name in sorted(os.listdir(self.warehouse)):
            if os.path.isdir(self.path(name)) and self.recover_swaps(name):
                out.append(name)
        return out

    def replace(
        self,
        df: DataFrame,
        name: str,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Overwrite a table whose current contents feed ``df`` (read-modify-
        write) — or whose previous version must survive a crashed rebuild:
        materialize to a temp dir first, then swap crash-safely (a crash
        mid-write leaves the old table untouched; a crash mid-swap leaves a
        ``__old`` twin that :meth:`recover_swaps`/:meth:`recover_all`
        restores). With Iceberg this is a plain ``createOrReplace``
        (snapshot isolation)."""
        if self.iceberg_catalog:
            self.write(df, name, mode="overwrite", sort_by=sort_by,
                       partition_by=partition_by)
            return
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        tmp = self.path(f"{name}__tmp")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        final = self.path(name)
        self._swap_dir(tmp, final)
        # the swap bypassed Spark's writers: drop the stale file-listing
        # cache or later scans enumerate the removed files
        self.spark.catalog.refreshByPath(final)

    def replace_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_col: str | list[str],
        partition_values: list,
        sort_by: list[str] | None = None,
    ) -> None:
        """Replace EXACTLY the named partitions of a partitioned table with
        ``df``'s content (Iceberg ``overwritePartitions`` semantics — the
        M1 incremental-upsert primitive; ``IndexingThread.java:199-224``
        deletes+reinserts one page's rows, here one partition's files).

        ``partition_col`` may be a list for multi-level layouts (e.g.
        postings_flat's (bucket, sgrp) cells); ``partition_values`` is then a
        list of tuples. Every named partition is removed; partitions of that
        list present in ``df`` are rewritten; untouched partitions' files are
        NEVER rewritten (asserted byte-identical by
        ``test_incremental_partition_stability``). ``df`` must contain only
        rows belonging to the named partitions. Parquet backend: write to a
        temp dir first (the inputs may read the very files being replaced),
        then swap per partition directory.
        """
        if self.iceberg_catalog:
            # snapshot isolation makes read-your-own-overwrite safe
            w = df.writeTo(self._ident(name))
            w.overwritePartitions()
            return
        import shutil

        cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        tmp = self.path(f"{name}__ptmp")
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").partitionBy(*cols).parquet(tmp)
        final = self.path(name)
        for v in partition_values:
            vals = (v,) if not isinstance(v, (tuple, list)) else tuple(v)
            sub = os.path.join(*(f"{c}={x}" for c, x in zip(cols, vals)))
            dst = os.path.join(final, sub)
            src = os.path.join(tmp, sub)
            if os.path.isdir(src):
                self._swap_dir(src, dst)  # crash-safe per-partition replace
            else:  # absent from df → the partition is now empty
                shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        # the swap bypassed Spark's writers: drop the stale file-listing
        # cache or later scans enumerate the removed files
        self.spark.catalog.refreshByPath(final)

    def read_partitions(self, name: str, subdirs: list[str]) -> DataFrame | None:
        """Read ONLY the named partition subdirectories (e.g.
        ``["bucket=3/sgrp=7"]``) of a partitioned table — unlike a filtered
        ``read()``, not even schema inference touches any other file. Used by
        the streaming recovery fence so an append provably reads zero
        non-tail postings_flat files. Returns None when none of the
        directories exist (→ nothing to read). Iceberg backend: snapshot
        metadata gives file-level pruning, so a filtered table read is the
        same thing — callers apply their partition predicate on top."""
        if self.iceberg_catalog:
            return self.spark.read.table(self._ident(name))
        base = self.path(name)
        paths = [os.path.join(base, d) for d in subdirs]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        return self.spark.read.option("basePath", base).parquet(*paths)

    def partition_dirs(self, name: str) -> list[str]:
        """Top-level ``col=value`` partition directory names of a parquet
        table (driver-side fs listing — no Spark job)."""
        p = self.path(name)
        if not os.path.isdir(p):
            return []
        return [d for d in os.listdir(p) if "=" in d and os.path.isdir(os.path.join(p, d))]

    # -- index_meta: frozen geometry + maintained corpus counters -------------
    # The counters (n_docs, sum_doc_len, max_doc_id, max_term_id, mut_seq)
    # make every late-data path O(batch): corpus stats are never re-scanned
    # from the per-doc/posting tables. index_meta is also the COMMIT RECORD
    # of a mutation — it is written last, via an atomic directory swap, so a
    # crashed append/upsert leaves the old counters in place and the retry's
    # recovery fence can identify (and drop) the orphan rows above
    # max_doc_id and the terms buckets already stamped with its mut_seq.
    def read_meta(self) -> dict[str, float]:
        return {r["key"]: r["value"] for r in self.read("index_meta").collect()}

    def write_meta(self, meta: dict[str, float]) -> None:
        df = tiny_df(
            self.spark,
            sorted((k, float(v)) for k, v in meta.items()),
            "key string, value double",
        )
        self.replace(df, "index_meta")

    def drop(self, name: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        import shutil

        shutil.rmtree(self.path(name), ignore_errors=True)
