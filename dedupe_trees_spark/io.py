"""Catalog/storage seam: parquet in-sandbox, Iceberg behind the same API.

SURVEY.md §7: no Iceberg runtime jar ships in this sandbox (verified),
so the catalog access is isolated here — `iceberg:<table>` inputs flip
to ``spark.table`` when a catalog is configured, everything else is
parquet directories. Stage checkpoints are plain parquet writes whose
``_SUCCESS`` marker doubles as the resume gate (BASELINE.json:14
checkpointed resumability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Input table of Common-Crawl-style pages (BASELINE.json input_hint)."""
    if path.startswith("iceberg:"):
        return spark.table(path.split(":", 1)[1])
    return spark.read.parquet(path)


def stage_path(ckpt_dir: str, stage: str) -> str:
    return os.path.join(ckpt_dir, stage)


def _hadoop_fs(path: str):
    """(FileSystem, Path) for ``path`` via the active session, or
    (None, None) when no session is up (tools inspecting a local ckpt
    dir without Spark). Marker/`_SUCCESS` checks go through this so a
    ckpt_dir on HDFS/S3A behaves the same as a local one — matching
    remove_dir/replace_dir, which were already Hadoop-FS-backed."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None, None
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def stage_done(ckpt_dir: str, stage: str) -> bool:
    target = os.path.join(stage_path(ckpt_dir, stage), "_SUCCESS")
    fs, p = _hadoop_fs(target)
    if fs is not None:
        return fs.exists(p)
    return os.path.exists(target)


def write_stage(df: DataFrame, ckpt_dir: str, stage: str) -> None:
    df.write.mode("overwrite").parquet(stage_path(ckpt_dir, stage))


def read_stage(spark: SparkSession, ckpt_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(stage_path(ckpt_dir, stage))


def remove_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete a directory through the Hadoop FileSystem API —
    works for any checkpoint filesystem (local, HDFS, S3A), unlike
    shutil. Used to drop per-run scratch intermediates once the stage
    that consumed them has committed."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Atomically-enough swap ``dst`` with ``src`` (delete + rename via
    the Hadoop FileSystem API). Crash safety relies on the ``_SUCCESS``
    convention: a crash between delete and rename leaves ``dst`` without
    its marker, so resume simply rebuilds the stage."""
    jvm = spark._jvm
    sp = jvm.org.apache.hadoop.fs.Path(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    fs = dp.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dp):
        fs.delete(dp, True)
    fs.rename(sp, dp)


def append_stage(spark: SparkSession, src_dir: str, dst_dir: str, prefix: str) -> None:
    """Append ``src_dir``'s parquet part-files into an existing stage
    directory, renaming each to ``<prefix>-<original>``. Idempotent per
    prefix: files carrying the prefix are deleted first, so re-running a
    failed batch commit converges instead of duplicating rows. Hadoop
    FileSystem API throughout (HDFS/S3A ckpt dirs work like local ones).

    This is the sandbox stand-in for what a real deployment gets from
    Iceberg's append snapshots: the incremental index appends one batch
    of signature/bucket files per update without rewriting the table."""
    jvm = spark._jvm
    sp = jvm.org.apache.hadoop.fs.Path(src_dir)
    dp = jvm.org.apache.hadoop.fs.Path(dst_dir)
    fs = dp.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(dp):
        name = st.getPath().getName()
        if name.startswith(f"{prefix}-"):
            fs.delete(st.getPath(), False)
    for st in fs.listStatus(sp):
        name = st.getPath().getName()
        if name.startswith("_"):  # _SUCCESS etc.
            continue
        fs.rename(
            st.getPath(),
            jvm.org.apache.hadoop.fs.Path(dst_dir, f"{prefix}-{name}"),
        )


def mark(ckpt_dir: str, stage: str, name: str) -> None:
    """Drop an empty marker file inside a committed stage directory."""
    target = os.path.join(stage_path(ckpt_dir, stage), name)
    fs, p = _hadoop_fs(target)
    if fs is not None:
        fs.create(p, True).close()
        return
    open(target, "w").close()


def marked(ckpt_dir: str, stage: str, name: str) -> bool:
    target = os.path.join(stage_path(ckpt_dir, stage), name)
    fs, p = _hadoop_fs(target)
    if fs is not None:
        return fs.exists(p)
    return os.path.exists(target)


def local_ckpt(df):
    """``df.localCheckpoint()`` (eager) plus handles to the RDDs it
    actually pinned. ``DataFrame.unpersist()`` only talks to the SQL
    CacheManager and is a NO-OP for localCheckpoint's RDD-level blocks,
    so callers that must release them (cache hygiene is a tested
    pipeline invariant) need the JavaRDD handles: diff the persistent-
    RDD map around the checkpoint call (the driver is single-threaded —
    nothing else persists concurrently). Returns (checkpointed_df,
    [handles]); call ``h.unpersist()`` on each handle once every
    consumer has materialized (the lineage is truncated: blocks dropped
    earlier are unrecomputable and later reads fail)."""
    spark = df.sparkSession
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint()
    jmap = jsc.getPersistentRDDs()
    handles = [jmap.get(k) for k in jmap.keySet().toArray() if k not in before]
    return out, handles
