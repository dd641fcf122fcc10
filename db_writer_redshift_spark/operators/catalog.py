"""Managed-table catalog ops — the DDL surface (L-6…L-8, L-10, A-5).

Reference parity:
* ``create``       (Redshift.php:129-153) → create_table from the declared
  StructType; ``ignore`` columns excluded; defaults kept in column metadata.
* ``drop``         (Redshift.php:124-127) → DROP TABLE IF EXISTS.
* ``tableExists``  (Redshift.php:216-224) → spark.catalog.tableExists.
* ``generateTmpName`` (Redshift.php:345-348) → same ``_temp_<uniqid>`` scheme,
  the staging table of replace_table's write-once rename swap.
* ``showTables``/``getTableInfo`` — unimplemented stubs in the reference
  (Redshift.php:295-303); implemented properly here via spark.catalog (A-5).

Tables are managed parquet (``USING parquet``): columnar, splittable,
partition-prunable — the warehouse the reference delegated to Redshift.
"""

from __future__ import annotations

import re
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from db_writer_redshift_spark.config.errors import ApplicationException, UserException
from db_writer_redshift_spark.config.schema import TableConfig, struct_type_for

_IDENT_OK = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def quote_ident(name: str) -> str:
    """Backtick-quote an identifier (L-17 analog; unlike the reference we
    reject embedded quote characters instead of silently mangling them)."""
    if "`" in name:
        raise UserException(f"Invalid identifier: {name!r}")
    return name if _IDENT_OK.match(name) else f"`{name}`"


def generate_tmp_name(table_name: str) -> str:
    """Staging-name scheme (L-10): ``<table>_temp_<uniqid>``."""
    uniq = f"{int(time.time()):x}{uuid.uuid4().hex[:8]}"
    return f"{table_name}_temp_{uniq}"


def _managed_location(spark: SparkSession, name: str) -> str:
    """The warehouse path a managed table of this name lives at (catalog
    lowercases table names; directories follow)."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return wh.rstrip("/") + "/" + name.lower()


def _fs_and_path(spark: SparkSession, location: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def adopt_orphan_table(spark: SparkSession, name: str) -> bool:
    """Cross-process continuity for the in-memory catalog: a previous CLI
    invocation's managed table survives as parquet under the warehouse
    dir, but its catalog entry died with that session (the reference
    never faced this — its catalog WAS Redshift). If the location holds
    data, register it as a table over that location so ``spark.table``
    and the merge path see it. Returns True iff the table is usable
    after the call. Declared-schema niceties (NOT NULL, bucketing
    metadata) are not recoverable from bare parquet — merges stay
    correct, bucketed merge-shuffle elision resumes at the next write.
    """
    if spark.catalog.tableExists(name):
        return True
    loc = _managed_location(spark, name)
    fs, path = _fs_and_path(spark, loc)
    if not fs.exists(path):
        return False

    def _holds_parquet(p, depth: int = 3) -> tuple[bool, bool]:
        # Recurse into partition subdirectories (k=v layout) so a
        # partitioned table still registers as having data — a miss here
        # would turn the next incremental merge into a silent full
        # overwrite (table_exists -> False). Depth-bounded: deeper than
        # a few partition levels is not a layout this writer produces.
        # Returns (has_data, nested): nested data needs partition
        # recovery after registration.
        found, nested = False, False
        for st in fs.listStatus(p):
            child = st.getPath()
            if st.isDirectory():
                if depth > 0 and _holds_parquet(child, depth - 1)[0]:
                    found, nested = True, True
            elif child.getName().endswith(".parquet"):
                found = True
        return found, nested

    has_data, nested = _holds_parquet(path)
    if not has_data:
        return False  # created-but-never-written orphan; drop_table cleans it
    spark.sql(
        f"CREATE TABLE {quote_ident(name)} USING parquet LOCATION '{loc}'"
    )
    if nested:
        # Hive-partitioned layout: the catalog entry knows the partition
        # schema but not the partition directories until recovered.
        spark.catalog.recoverPartitions(name)
    return True


def table_exists(spark: SparkSession, name: str) -> bool:
    return adopt_orphan_table(spark, name)


def drop_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS + clean the managed location: an adopted
    (location-based) table's DROP keeps its files, and an orphan dir from
    a dead session has no catalog entry at all — either would make the
    next CREATE fail with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {quote_ident(name)}")
    fs, path = _fs_and_path(spark, _managed_location(spark, name))
    if fs.exists(path):
        fs.delete(path, True)


def create_table(
    spark: SparkSession,
    table: TableConfig,
    name: str | None = None,
    buckets: int | None = None,
) -> None:
    """CREATE TABLE from config items (L-6).

    ``buckets``: optional hash-bucketing on the primary key so repeated
    incremental merges co-locate both sides and skip the shuffle — the
    Spark analog of a Redshift DISTKEY (which the reference never sets;
    deliberate scale improvement).
    """
    target = name or table.db_name
    schema = struct_type_for(table)
    ddl_cols = ", ".join(
        f"{quote_ident(f.name)} {f.dataType.simpleString()}"
        + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
    clustered = ""
    if buckets and table.primary_key:
        pk = ", ".join(quote_ident(c) for c in table.primary_key)
        clustered = f" CLUSTERED BY ({pk}) INTO {buckets} BUCKETS"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {quote_ident(target)} ({ddl_cols})"
        f" USING parquet{clustered}"
    )


def replace_table(
    df: DataFrame,
    name: str,
    buckets: int | None = None,
    bucket_by: Sequence[str] = (),
) -> None:
    """Replace table ``name`` with ``df`` — the one table-replace path
    (full and incremental loads, compaction, the streaming table sinks).

    The reference's staging scheme (L-10) as a write-once swap: ``df`` is
    written ONCE, in its final layout, into a fresh ``_temp_`` table; only
    after that write has committed is the target dropped and the staging
    table renamed onto it (a managed-table rename moves the directory and
    keeps the bucket spec). No data job runs between the drop and the
    rename, so the only exposed window is two metadata operations. ``df``
    may read ``name`` itself: the write completes before the drop.

    ``buckets`` + ``bucket_by``: hash-bucket + sort on those columns (the
    Spark analog of a Redshift DISTKEY/SORTKEY, which the reference never
    set) — the next incremental merge's anti join then reads co-located,
    pre-sorted buckets and skips the target-side shuffle.

    A failure before the staging write commits leaves the target untouched
    and is safe to retry. A failure in the drop or the rename keeps the
    staging table (it may hold the only copy of the new contents) and
    raises ApplicationException naming it: a retry would find no target
    and rebuild it from the increment alone.
    """
    spark = df.sparkSession
    tmp = generate_tmp_name(name)
    drop_table(spark, tmp)
    w = df.write.mode("overwrite")
    if buckets and bucket_by:
        w = w.bucketBy(buckets, *bucket_by).sortBy(*bucket_by)
    try:
        w.saveAsTable(tmp)
    except Exception:
        drop_table(spark, tmp)  # uncommitted: at most a partial location
        raise
    try:
        # drop_table also clears the location, which the rename needs
        # free: an adopted table's DROP keeps its files, an orphan dir has
        # no catalog entry at all
        drop_table(spark, name)
        spark.sql(f"ALTER TABLE {quote_ident(tmp)} RENAME TO {quote_ident(name)}")
    except Exception as exc:
        raise ApplicationException(
            f'Replacing table "{name}" failed after its new contents were '
            f'written; they are kept in table "{tmp}"'
        ) from exc


_TMP_NAME = re.compile(r"_temp_[0-9a-f]+\Z")


def adopt_all_orphans(spark: SparkSession) -> list[str]:
    """Adopt every orphaned managed location under the warehouse dir (see
    adopt_orphan_table) — makes listing actions see tables written by
    previous processes. Returns the adopted names."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, root = _fs_and_path(spark, wh)
    if not fs.exists(root):
        return []
    adopted = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not _IDENT_OK.match(name) or spark.catalog.tableExists(name):
            continue
        if _TMP_NAME.search(name):
            # crashed-run staging leftover (generate_tmp_name scheme) —
            # internal, never a user table; don't surface it in listings
            continue
        if adopt_orphan_table(spark, name):
            adopted.append(name)
    return adopted


def show_tables(spark: SparkSession) -> list[str]:
    """A-5 done properly (reference stub throws 'Method not implemented').
    Includes tables from previous processes via orphan adoption — the
    reference's catalog (Redshift information_schema) was persistent;
    this keeps the listing contract equivalent."""
    adopt_all_orphans(spark)
    return [t.name for t in spark.catalog.listTables()]


def get_table_info(spark: SparkSession, name: str) -> dict:
    """Name + column name/type list, the shape getTablesInfo wanted (A-5)."""
    if not table_exists(spark, name):
        raise UserException(f'Table "{name}" does not exist')
    schema = spark.table(name).schema
    return {
        "name": name,
        "columns": [
            {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in schema.fields
        ],
    }


def read_table(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact_ndv: bool = True
) -> DataFrame:
    """Column statistics collection (the ANALYZE analog Redshift runs after
    COPY — reference's loads rely on Redshift auto-analyze; here the stats
    are a first-class operator a CBO or data-quality gate can consume).

    One aggregation pass over the table computing, per requested column:
    row count, non-null count, distinct count, min, max (min/max as
    strings so heterogeneous column types fit one tall result). Returns a
    TALL frame (column_name, n_rows, n_non_null, n_distinct, min_value,
    max_value) — stable schema regardless of how many columns are
    profiled.

    Scale: ``exact_ndv=True`` uses count_distinct — Spark expands the
    plan per distinct aggregate (one Expand row multiply per column),
    exact but ~k× shuffle volume for k columns. At 100 TB profile with
    ``exact_ndv=False`` (HLL approx_count_distinct): single-pass,
    constant-size sketch state per column, one shuffle total — the same
    trade the warehouse ANALYZE makes.
    """
    from pyspark.sql import functions as F

    cols = columns or df.columns
    ndv = F.count_distinct if exact_ndv else F.approx_count_distinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(c).alias(f"{c}__nn"),
            ndv(c).alias(f"{c}__ndv"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_non_null"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(structs).alias("s")).select("s.*")


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: list[str] | None = None,
    noscan: bool = False,
) -> dict:
    """ANALYZE the managed table so the cost-based optimizer has real
    cardinalities: table-level row count/size always; per-column NDV,
    null count and min/max when ``columns`` is given. The Redshift the
    reference wrote into auto-ANALYZEs after COPY — here it is an
    explicit catalog operator the loader can invoke post-write.

    At scale this is what turns join reordering and broadcast decisions
    from byte-size heuristics into cardinality-based choices
    (spark.sql.cbo.* — enabled in the session factory; stats persist in
    the catalog, so one ANALYZE serves every later session).

    Returns {row_count, size_bytes} read back from the catalog as proof
    the stats landed.
    """
    q = quote_ident(name)
    if columns:
        cols = ", ".join(quote_ident(c) for c in columns)
        spark.sql(f"ANALYZE TABLE {q} COMPUTE STATISTICS FOR COLUMNS {cols}")
    elif noscan:
        # file-size-only stats: metadata pass, no data scan — the right
        # default after every load (the CLI wires this in); full/column
        # stats are an explicit deeper pass
        spark.sql(f"ANALYZE TABLE {q} COMPUTE STATISTICS NOSCAN")
    else:
        spark.sql(f"ANALYZE TABLE {q} COMPUTE STATISTICS")
    detail = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {q}").collect()
    }
    stats = detail.get("Statistics", "")
    out: dict = {"raw": stats}
    parts = stats.split(",")
    for p in parts:
        p = p.strip()
        if p.endswith("bytes"):
            out["size_bytes"] = int(p.split()[0])
        elif p.endswith("rows"):
            out["row_count"] = int(p.split()[0])
    return out
