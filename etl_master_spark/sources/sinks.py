"""Parquet sinks — the engine's spellings of the reference's output surface.

- S2 (``Dataset_CDAE.py:91-145``): the reference computes splits + negatives
  once and pickles them, loading the pickles on every later run. Engine
  twin: ``materialize_splits`` — an idempotent compute-if-missing job that
  writes both tables as parquet and reads them back when present. Parquet
  replaces pickle because it is splittable, columnar, and
  predicate-pushdown-friendly — the difference between "fits one node's
  RAM" and "scans on 1000 executors".
- S3 (``main_my.py:278-281`` append-only text log): ``append_metrics`` — an
  append-mode parquet sink for the per-epoch metric rows; the relational
  replacement for grep-able logs (``best_epoch`` then runs ON the sink).
- S7 (``main_my.py:62-70`` rm-rf-and-rewrite log dir): ``mode("overwrite")``
  on the writers — atomic-per-partition rather than shell deletion.
- S5/S6 embedding export lives in ``model.als.export_user_embeddings``.

All writers partition by a low-cardinality column when one exists (domain,
split) so downstream readers prune; none of them collect to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.recsplit import split_data


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet writer (the engine's one sink primitive)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def materialize_splits(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Compute-if-missing splits + negatives (S2). First call derives both with
    ``recsplit.split_data`` and writes parquet partitioned by domain/split;
    later calls only read. Deterministic by construction (seeded-hash
    shuffle), so re-materializing yields byte-identical content."""
    splits_path = f"{out_dir}/splits"
    nega_path = f"{out_dir}/negatives"
    if not (_exists(spark, splits_path) and _exists(spark, nega_path)):
        data = split_data(spark, sf_dir)
        write_table(data.splits, splits_path, partition_by=["domain", "split"])
        write_table(data.negatives, nega_path, partition_by=["domain"])
    return spark.read.parquet(splits_path), spark.read.parquet(nega_path)


def append_metrics(metrics: DataFrame, path: str) -> None:
    """Append-only metrics sink (S3): one row per (epoch, metric, value)."""
    write_table(metrics, path, mode="append")


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table (S2 at co-location scale): pre-shuffling a
    fact table into stable hash buckets at WRITE time lets every later
    equi-join or aggregation on the bucket key run with ZERO exchanges —
    the write is the one shuffle all downstream jobs share. This is the
    bulk-pipeline answer to repeated joins on the same key (user_id at
    100 TB)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-layout partitioned parquet: directory-level pruning turns a
    partition-key predicate into 'do not even list those files'."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 512,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance job every long-lived
    100 TB dataset needs: streaming/batch appenders leave thousands of
    KB-scale files whose per-file open/footer cost eventually dominates
    scans. Rewrites ``src_path`` into ``ceil(bytes / target_mb)`` files at
    ``dst_path`` and returns the output file count.

    Sizing reads the source's actual on-disk bytes (file-status listing —
    no data scan) rather than guessing from row counts. ``coalesce`` (not
    ``repartition``) merges map-side — compaction itself shuffles nothing.
    With ``sort_within_by``, rows are additionally sorted inside each
    output file (one local sort, still no exchange) so min/max row-group
    stats become selective — the poor man's Z-order for later pushdown.
    """
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(conf)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path).coalesce(n_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    df.write.mode("overwrite").parquet(dst_path)
    out = jvm.org.apache.hadoop.fs.Path(dst_path)
    return sum(
        1
        for f in fs.listStatus(out)
        if f.getPath().getName().endswith(".parquet")
    )
