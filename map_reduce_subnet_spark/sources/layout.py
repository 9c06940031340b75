"""Scale-out storage layout: partitioned + bucketed parquet writers.

The fixtures are single parquet files; at 100 TB the same tables are
written date-partitioned (so shipdate-range scans prune whole
directories, not just row groups) and optionally bucketed on the join
key (so fact-fact joins co-locate without a shuffle).

SURVEY §4.2: "at scale, write l_shipdate-partitioned Parquet so
scan_filter_pushdown exercises partition pruning too" — this module is
that path, with tests/test_layout.py proving the pruning actually
happens (InMemoryFileIndex selects a subset of partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def date_partitioned(
    df: DataFrame, date_col: str, granularity: str = "month"
) -> DataFrame:
    """``df`` plus a derived date bucket column (`part_key`, e.g.
    '1997-03'), one task per bucket: the frame to write
    ``partitionBy("part_key")``. Partition count stays bounded
    (months, not days) so the file listing doesn't explode — the
    standard time-series layout at fact-table scale."""
    fmt = {"month": "yyyy-MM", "year": "yyyy", "day": "yyyy-MM-dd"}[granularity]
    return df.withColumn(
        "part_key", F.date_format(F.col(date_col), fmt)
    ).repartition("part_key")  # one writer task per partition dir


def write_date_partitioned(
    df: DataFrame,
    path: str,
    date_col: str,
    granularity: str = "month",
) -> None:
    """Write ``date_partitioned(df, ...)`` as parquet partitioned by
    `part_key`."""
    (
        date_partitioned(df, date_col, granularity)
        .write.mode("overwrite")
        .partitionBy("part_key")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Write a bucketed table: joins/aggregations on the bucket column
    then require NO shuffle (Spark reads co-located buckets). The
    bucketed layout is the engine's answer to repeated fact-fact joins
    on the same key at 100 TB.

    With ``path`` the table is EXTERNAL (data at the given location) —
    callers that create scratch layouts use this so the files land in
    a directory they control (and can delete) instead of the session's
    warehouse dir, which may not be writable where the caller runs."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name, format="parquet")


def read_pruned(
    spark: SparkSession,
    path: str,
    part_keys: list[str],
    schema=None,
) -> DataFrame:
    """Read a date-partitioned layout touching only the named
    partitions — the query-side contract of write_date_partitioned.

    Pass ``schema`` (the written frame's schema plus the string
    part_key column) to make the read robust to an EMPTY layout: a
    zero-row partitioned write leaves no data files, and a schema-less
    read of that directory fails with UNABLE_TO_INFER_SCHEMA instead
    of returning an empty frame. Partition-directory pruning is
    unaffected — partition values still come from directory names."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path).where(F.col("part_key").isin(part_keys))
