"""Retention / deletion maintenance (SURVEY.md §2.1 S9-S13).

The reference batch-deletes old jobs from SQLite (purge_db.py:40-68) and
removes orphaned storage files via a scan of known ids (purge_db.py:77-108).
On a table format with SQL DELETE (Iceberg/Delta) these are one-statement
operations; on plain parquet directories the idiomatic equivalent is a
partition-pruned rewrite: read → anti-filter → dynamic-overwrite only the
partitions that contain victims. Both shapes are provided; the rewrite is
what runs in this sandbox (no Iceberg jar — see pipeline module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def purge_by_retention(spark: SparkSession, path: str, ts_col: str,
                       cutoff: str, partition_col: str = "dt") -> int:
    """Rewrite only the date partitions that contain expired rows — the
    partition-level equivalent of an Iceberg DELETE (untouched partitions
    are never read or written). Returns number of rows removed.

    Stage-then-swap: survivors of affected partitions are materialized to a
    staging dir FIRST (a lazy self-overwrite would read the files it is
    replacing), then each affected partition directory is swapped in via
    the Hadoop FileSystem API. A dynamic-partition overwrite alone is not
    enough: a fully-expired partition has no surviving rows, so nothing is
    written for it and the stale directory would survive."""
    df = spark.read.parquet(path)
    victims = df.filter(F.col(ts_col) < F.lit(cutoff))
    affected = [str(r[0]) for r in
                victims.select(partition_col).distinct().collect()]
    if not affected:
        return 0
    removed = victims.count()

    staging = path.rstrip("/") + "_purge_staging"
    survivors = df.filter(
        F.col(partition_col).isin(affected) & (F.col(ts_col) >= F.lit(cutoff))
    )
    (survivors.write.mode("overwrite").partitionBy(partition_col)
     .parquet(staging))

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(conf)
    for part in affected:
        dst = hpath(f"{path}/{partition_col}={part}")
        src = hpath(f"{staging}/{partition_col}={part}")
        fs.delete(dst, True)
        if fs.exists(src):  # fully-expired partitions have no staged dir
            fs.rename(src, dst)
    fs.delete(hpath(staging), True)
    return removed


def orphan_rows(files_df: DataFrame, jobs_df: DataFrame,
                key: str = "url") -> DataFrame:
    """S12 (purge_db.py:77-108): artifacts whose key has no owning row —
    a left-anti join, the shuffle-minimal formulation."""
    return files_df.join(jobs_df, key, "left_anti")


def delete_by_keys(df: DataFrame, keys: list[str],
                   key_col: str = "url") -> DataFrame:
    """S9/S10 (main.py:392-436, 748-775): IN-list / point delete expressed
    as the surviving-rows relation (small key lists broadcast as an InSet
    literal; huge lists should be a DataFrame + left_anti instead)."""
    return df.filter(~F.col(key_col).isin(*keys))
