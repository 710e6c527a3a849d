"""Lake maintenance: latest-wins upsert and small-file compaction.

- ``upsert_latest`` re-expresses the warehouse's realtime-metrics upsert
  (``init-db.sql:85`` — latest value per metric key, ON CONFLICT DO
  UPDATE) on a parquet lake: union existing + updates, keep the newest
  row per key. Plain parquet has no ACID merge, so the merge is written
  to a SIBLING TEMP DIRECTORY and swapped in — at production scale the
  same logic targets a table format (Delta/Iceberg MERGE) where the
  swap is atomic.
- ``compact_lake`` rewrites a partitioned lake with one file per
  partition dir. Streams and per-hour collectors accumulate small files;
  at 1000 executors an uncompacted day of hourly JSONL is millions of
  tiny objects, and scan cost is dominated by open() calls, not bytes.

Durability/remote-fs rules (every operation here, and the rollup
merges in ``streaming/cont_agg.py`` and ``streaming/topk.py``):

- Existence is probed through the Hadoop FileSystem API, NEVER
  ``os.path.exists`` — a driver-local probe returns False for every
  hdfs:// or s3a:// path, which would silently replace a remote lake
  with just the update batch.
- The new data is FULLY written to a temp sibling dir while the old
  directory is still being read (no localCheckpoint needed — source and
  destination never overlap), then swapped in with aside-rename +
  rename (``_commit_swap``): the live dir moves to its parked copy
  ``.<name>._old``, the temp dir moves into place, the parked copy is
  deleted last. A crash anywhere during the write leaves the old lake
  untouched; a crash inside the swap window leaves BOTH copies on disk
  and ``recover_swaps`` (called by every entry point before it reads
  or probes the lake) rolls the table forward — no crash point deletes
  the sole copy.
- The swapped directory may be a whole lake or ONE partition directory
  of it (``day=2024-01-05``): the rollup merges swap only the
  partitions a micro-batch touches. The parked copy's leading ``.``
  hides it from Spark's partition discovery, so a reader of the lake
  never sees a parked partition as a second ``day=`` value, and
  ``recover_swaps`` rolls forward every parked partition with one
  listing of the lake root — before a whole-lake rewrite such as
  ``compact_lake`` could drop it along with the old directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf —
    resolves the correct scheme (file://, hdfs://, s3a://, ...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


_PARKED = "._old"


def _old_path(path: str) -> str:
    """Parked copy of ``path`` during a swap: a sibling whose leading
    ``.`` hides it from partition discovery and file listing."""
    head, sep, name = path.rstrip("/").rpartition("/")
    return f"{head}{sep}.{name}{_PARKED}"


def recover_swap(spark: SparkSession, path: str) -> bool:
    """Roll forward a swap that crashed between the aside-rename and
    the rename-into-place: if ``path`` is missing but its parked copy
    (:func:`_old_path`) survives, restore it. Returns True if a
    recovery happened.

    Callers that probe ``fs.exists(path)`` to decide "no table yet"
    MUST call this first — otherwise a crashed swap reads as an empty
    lake and the next write silently drops all history.
    """
    fs, dest = _hadoop_fs(spark, path)
    _, pold = _hadoop_fs(spark, _old_path(path))
    if not fs.exists(dest) and fs.exists(pold):
        if not fs.rename(pold, dest):
            raise IOError(
                f"recovery rename {_old_path(path)} -> {path} failed"
            )
        return True
    return False


def recover_swaps(spark: SparkSession, path: str) -> set[str]:
    """:func:`recover_swap` for the lake at ``path`` and for every
    partition directory directly under it, then the names of the
    entries under ``path`` (empty when there is no lake yet). One
    listing of ``path``; nothing below it is listed."""
    recover_swap(spark, path)
    fs, dest = _hadoop_fs(spark, path)
    if not fs.exists(dest):
        return set()
    names = {st.getPath().getName() for st in fs.listStatus(dest)}
    for name in list(names):
        if name.startswith(".") and name.endswith(_PARKED):
            live = name[1 : -len(_PARKED)]
            if live not in names and recover_swap(spark, f"{path.rstrip('/')}/{live}"):
                names.add(live)
    return names


def _commit_swap(spark: SparkSession, path: str, tmp: str) -> None:
    """Replace ``path`` with the fully-written ``tmp`` directory.

    Sequence: rename the live dir aside to its parked copy
    (:func:`_old_path`), rename ``tmp`` into place, then delete the
    parked copy — so no crash point loses data: before the aside-rename
    the old lake is live; between the two renames both the old data
    (parked) and the new data (at ``tmp``) survive on disk and
    ``recover_swap`` rolls the table forward on the next touch; after
    the second rename the new lake is live. Only metadata ops (renames)
    are in the window — never a delete of the sole copy.

    Module-level seam so tests can fault-inject a crash between the
    temp write and the swap and assert the old lake is intact.
    """
    fs, dest = _hadoop_fs(spark, path)
    _, tsrc = _hadoop_fs(spark, tmp)
    _, pold = _hadoop_fs(spark, _old_path(path))
    if fs.exists(pold):
        fs.delete(pold, True)  # stale leftover from a completed crash
    had_dest = fs.exists(dest)
    if had_dest and not fs.rename(dest, pold):
        raise IOError(
            f"aside-rename {path} -> {_old_path(path)} failed;"
            f" lake untouched, new data is at {tmp}"
        )
    if not fs.rename(tsrc, dest):
        if had_dest:
            fs.rename(pold, dest)  # roll back: the old lake goes live again
        raise IOError(f"rename {tmp} -> {path} failed; new data is at {tmp}")
    if had_dest:
        fs.delete(pold, True)


def upsert_latest(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
) -> None:
    """Keep the newest row per key across existing data and updates."""
    recover_swaps(spark, path)
    fs, dest = _hadoop_fs(spark, path)
    tmp = path.rstrip("/") + "._tmp_upsert"
    _, tpath = _hadoop_fs(spark, tmp)
    if fs.exists(tpath):
        fs.delete(tpath, True)  # stale leftover from a crashed run
    if fs.exists(dest):
        existing = spark.read.parquet(path)
        merged = existing.unionByName(updates)
    else:
        merged = updates
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    latest.write.mode("overwrite").parquet(tmp)
    _commit_swap(spark, path, tmp)


def compact_lake(spark: SparkSession, path: str, partition_cols: list[str]) -> None:
    """Rewrite a partitioned lake with one file per partition value."""
    recover_swaps(spark, path)
    fs, _ = _hadoop_fs(spark, path)
    tmp = path.rstrip("/") + "._tmp_compact"
    _, tpath = _hadoop_fs(spark, tmp)
    if fs.exists(tpath):
        fs.delete(tpath, True)
    df = spark.read.option("basePath", path).parquet(path)
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(tmp)
    )
    _commit_swap(spark, path, tmp)


def forget_subject(
    spark: SparkSession,
    path: str,
    key_col: str,
    subject_ids: list,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Right-to-be-forgotten erasure over a parquet lake: remove every
    row whose ``key_col`` is in ``subject_ids`` and return the per-
    partition audit the DPO files (rows before, rows erased, rows
    after) — the GDPR/CCPA deletion pass plain parquet needs spelled
    out (a table format runs ``DELETE WHERE``; the rewrite-and-swap
    below is that statement's physical plan anyway).

    Scale shape: the anti-join predicate is a literal IN over the
    (small) subject list, so partition pruning and row-group skipping
    still apply to the scan; the rewrite repartitions by the partition
    columns so output files stay one-per-partition (the
    ``compact_lake`` layout). Crash safety is the module's standard
    temp-sibling + swap: the old lake is readable until the fully
    written replacement renames in.

    The audit is computed from the SAME scan lineage before the swap
    (counts per partition), so what it reports is exactly what was
    erased."""
    recover_swaps(spark, path)
    fs, _ = _hadoop_fs(spark, path)
    tmp = path.rstrip("/") + "._tmp_forget"
    _, tpath = _hadoop_fs(spark, tmp)
    if fs.exists(tpath):
        fs.delete(tpath, True)
    df = spark.read.option("basePath", path).parquet(path)
    hit = F.col(key_col).isin(*subject_ids)
    group = (
        [F.col(c) for c in partition_cols]
        if partition_cols
        # a STRING literal: an integer literal in groupBy is read as a
        # positional GROUP BY index
        else [F.lit("all").alias("partition")]
    )
    audit = (
        df.groupBy(*group)
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("rows_erased"),
        )
        .withColumn(
            "rows_after", (F.col("rows_before") - F.col("rows_erased"))
        )
        .collect()
    )
    kept = df.filter(~hit)
    writer = kept.repartition(
        *[F.col(c) for c in (partition_cols or [])]
    ) if partition_cols else kept.coalesce(1)
    w = writer.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    _commit_swap(spark, path, tmp)
    return spark.createDataFrame(audit)
