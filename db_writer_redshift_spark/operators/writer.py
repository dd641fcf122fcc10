"""Write modes — full load and incremental upsert (L-9, L-11, L-12).

Reference lifecycle (RedshiftApplication.php:109-139):

* ``loadFull``: drop → create → COPY. Destructive replace.
* ``loadIncremental``: COPY into a fresh ``_temp_`` staging table → create
  target if missing → 3-statement upsert → drop staging. Non-atomic in the
  reference.

Here both modes compute the new contents as one relation (the merge is
functional: operators/merge.upsert_dataframes) and publish it through
``catalog.replace_table``: one write into a ``_temp_`` table in the final
layout, then drop the target and rename the staging table onto it. A
failure during the write leaves the old target intact and is retried
(operators/retry.py) — except a bad input cell, which the ingest guard
raises inside this same write and app.Application turns into the E-2
UserException, never retried. The drop→rename pair is the one non-atomic window,
and it is metadata only: a failure there keeps the ``_temp_`` table, which
holds the new contents, and fails the run with ApplicationException (CLI
exit 2) instead of retrying into a target rebuilt from the increment
alone. Full loads take the same path, so unlike the reference's
drop → create → COPY they never expose a missing or half-written target
while the data is written.

Scale: each load writes its data once. At 100 TB the incremental path's
cost is one PK-partitioned anti join (broadcast when staging is small) + a
rewrite of the target — same order as Redshift's UPDATE+INSERT which also
rewrites touched blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from db_writer_redshift_spark.config.schema import TableConfig
from db_writer_redshift_spark.operators import catalog
from db_writer_redshift_spark.operators.merge import upsert_dataframes


def load_full(
    spark: SparkSession,
    table: TableConfig,
    df: DataFrame,
    buckets: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_files: int | None = None,
) -> None:
    """L-11: replace the target with ``df``.

    ``buckets``: hash-bucket + sort on the primary key (see
    catalog.replace_table). ``zorder_by``: Morton-curve clustering
    (operators/zorder.py) into ``zorder_files`` files (default: the
    session's shuffle width), so parquet footer stats prune on ANY
    clustered column. The two layouts are mutually exclusive."""
    if buckets and zorder_by:
        raise ValueError("buckets and zorder_by are mutually exclusive layouts")
    if zorder_by:
        from db_writer_redshift_spark.operators.zorder import zorder_clustered

        n = zorder_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        df = zorder_clustered(df, zorder_by, n)
    catalog.replace_table(df, table.db_name, buckets, table.primary_key)


def load_incremental(
    spark: SparkSession, table: TableConfig, staging: DataFrame, buckets: int | None = None
) -> None:
    """L-12: merge ``staging`` into the target by primary key.

    Missing target → behaves like full load (reference creates the target
    then upserts into the empty table, same result). PK-less → append
    (Redshift.php:169-200 guard via upsert_dataframes).
    """
    merged = staging
    if catalog.table_exists(spark, table.db_name):
        target = spark.table(table.db_name)
        merged = upsert_dataframes(target, staging, list(table.primary_key))
    catalog.replace_table(merged, table.db_name, buckets, table.primary_key)


def load_table(
    spark: SparkSession,
    table: TableConfig,
    df: DataFrame,
    buckets: int | None = None,
) -> None:
    """Dispatch on the config's ``incremental`` flag (RedshiftApplication.php:93-96)."""
    if table.incremental:
        load_incremental(spark, table, df, buckets)
    else:
        load_full(spark, table, df, buckets)
