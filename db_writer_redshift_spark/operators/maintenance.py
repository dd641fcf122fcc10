"""Table maintenance — small-file compaction.

No counterpart in the reference (Redshift VACUUMs internally); on a
parquet lake this is the operator that keeps scan parallelism healthy:
every incremental merge rewrites the table at the session's shuffle
width, so a long-lived table drifts toward many small files, and at
100 TB a scan over millions of sub-megabyte files is throttled by
task-scheduling and footer-reading overhead, not I/O.

Compaction = rewrite to ``ceil(total_bytes / target_file_bytes)``
partitions through ``catalog.replace_table``, the write-once rename swap
every table replace uses: a failure while the data is rewritten leaves
the old table intact; only the final drop→rename (metadata) is not
atomic, and a failure there keeps the rewritten ``_temp_`` table and
raises ApplicationException naming it. Uses coalesce(), not
repartition(): compaction must not pay a shuffle — merging co-located
splits map-side is the whole point. The trade: coalesce can't split
oversized files — tables needing splits (not merges) should be rewritten
with repartition via a full load instead.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from db_writer_redshift_spark.operators import catalog


def table_file_stats(spark: SparkSession, name: str) -> tuple[int, int]:
    """(n_files, total_bytes) for a managed table, from the file index —
    no data scan."""
    files = spark.table(name).inputFiles()
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    total = 0
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        fs = path.getFileSystem(conf)
        total += fs.getFileStatus(path).getLen()
    return len(files), total


def compact_table(
    spark: SparkSession,
    name: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Compact ``name`` to ~``target_file_bytes`` files via a rename swap.

    Returns a report dict {files_before, bytes, files_after, compacted}.
    No-op (compacted=False) when the table already has fewer than
    ``min_files_to_compact`` files or fewer files than the target count —
    compaction that wouldn't reduce file count is pure write
    amplification.
    """
    n_files, total = table_file_stats(spark, name)
    target_n = max(1, math.ceil(total / target_file_bytes))
    if n_files < min_files_to_compact or n_files <= target_n:
        return {
            "files_before": n_files,
            "bytes": total,
            "files_after": n_files,
            "compacted": False,
        }
    catalog.replace_table(spark.table(name).coalesce(target_n), name)
    n_after, _ = table_file_stats(spark, name)
    return {
        "files_before": n_files,
        "bytes": total,
        "files_after": n_after,
        "compacted": True,
    }
