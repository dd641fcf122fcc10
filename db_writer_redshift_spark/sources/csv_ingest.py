"""CSV ingest — the Spark analog of the reference's Redshift COPY (L-1…L-5).

Reference command (Redshift.php:93-112)::

    COPY "t" FROM 's3://…' CREDENTIALS … REGION …
    DELIMITER ',' CSV QUOTE '"' NULL AS 'NULL' ACCEPTANYDATE
    TRUNCATECOLUMNS … GZIP  [MANIFEST | IGNOREHEADER 1]

Spark mapping:

* dialect    → ``spark.read.csv(quote='"', escape='"', multiLine=True)``.
  ``escape='"'`` is mandatory: Spark's default ``escape='\\'`` corrupts
  fields containing literal backslashes (the reference's ``special.csv``
  torture fixture — quote-doubling is the ONLY escape in this dialect).
* NULL AS 'NULL'       → ``nullValue='NULL'`` (L-3).
* GZIP                 → transparent via file extension.
* MANIFEST             → JSON ``{"entries": [{"url": …}]}`` resolved to a
  path list fed to ONE ``spark.read.csv(paths)`` call — Spark parallelizes
  by file natively, same as Redshift's sliced COPY (L-2). An empty entry
  list short-circuits to a zero-row success (Redshift.php:83-90).
* IGNOREHEADER 1       → ``header=True`` on single files; sliced files are
  headerless with schema from config.
* TRUNCATECOLUMNS      → explicit ``substring(1, size)`` projection on
  sized string columns (L-4; no reader option exists).
* ACCEPTANYDATE        → multi-pattern lenient parse (L-5). An uncastable
  non-NULL cell rejects the load with the reference's error contract
  ``Column 'col', line N: reason`` (E-2; golden message asserted by the
  reference functional test: a short non-date string fails with
  "Invalid Date Format - length must be 10 or more").

One pass, like COPY: :func:`ingest_table` is lazy, and every typed column
carries a guard that raises :data:`BAD_CELL` when a non-NULL cell does not
cast. The guard runs inside the load's own write, so a clean load parses
each slice once and runs no validation job. Every ``read_table_*`` reader
returns only the raw string relation; lines are numbered only on the E-2
path: a load that failed on the guard pays for :func:`validate_load`, a
second scan that numbers the lines (:func:`number_lines`) and collects
the first errors — the reference reads ``stl_load_errors`` the same way,
after a COPY failed (Redshift.php:262-285).

Scale notes: ``multiLine=True`` disables intra-file split parallelism
(a quoted newline can straddle a split), exactly like Redshift's COPY of a
single CSV — parallelism comes from slicing, which the manifest path gives
us for free.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from db_writer_redshift_spark.config.errors import UserException
from db_writer_redshift_spark.config.schema import (
    TEXT_TYPE,
    ColumnItem,
    TableConfig,
    spark_type_for,
)

#: Lenient date patterns honored by the ACCEPTANYDATE analog (L-5).
_DATE_PATTERNS = ("yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy", "yyyyMMdd")
_TS_PATTERNS = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd",
)

_LINE_COL = "_load_line"

#: Message of the guard that :func:`guarded_schema` puts on each typed
#: column; a write that fails with it hit an uncastable cell
#: (see :func:`is_bad_cell`).
BAD_CELL = "uncastable non-NULL input cell"


@dataclass(frozen=True)
class LoadError:
    """One rejected input cell — the stl_load_errors analog (E-2)."""

    column: str
    line: int  # 1-based data line (header excluded), like stl_load_errors
    raw_value: str | None
    reason: str

    def message(self) -> str:
        return f"Column '{self.column}', line {self.line}: {self.reason}"


def read_manifest_entries(manifest_path: str) -> list[str]:
    """Resolve a sliced-load JSON manifest to local/remote file paths (L-2).

    Shape per the reference (Redshift.php:326-343): ``{"entries":
    [{"url": "s3://…"}, …]}``. Returns [] for an empty manifest — the
    caller must treat that as a zero-row success, not an error.
    """
    with open(manifest_path, encoding="utf-8") as fh:
        manifest = json.load(fh)
    entries = manifest.get("entries", [])
    paths = []
    for e in entries:
        url = e["url"] if isinstance(e, dict) else str(e)
        parsed = urlparse(url)
        if parsed.scheme in ("", "file"):
            paths.append(parsed.path or url)
        elif parsed.scheme == "s3":
            # Keboola manifests carry s3:// URLs (Redshift.php:326-343);
            # Hadoop's modern connector serves the s3a:// scheme (the bare
            # s3:// FS was removed in Hadoop 3). Credentials for the bucket
            # come from session.configure_s3.
            paths.append("s3a://" + url[len("s3://") :])
        else:
            paths.append(url)  # s3a://, abfss://, gs://… — handed to Hadoop FS as-is
    return paths


def read_table_csv(
    spark: SparkSession,
    source: str | list[str],
    table: TableConfig,
    sliced: bool = False,
) -> DataFrame:
    """Read raw CSV with the pinned dialect; all columns as strings, named
    by the declared config order."""
    names = [i.name for i in table.items]
    raw_schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    reader = (
        spark.read.option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .option("nullValue", "NULL")
        .option("header", "false" if sliced else "true")
        .option("mode", "PERMISSIVE")
        .schema(raw_schema)
    )
    return reader.csv(source)


def read_table_jsonl(
    spark: SparkSession,
    source: str | list[str],
    table: TableConfig,
) -> DataFrame:
    """JSON-lines twin of :func:`read_table_csv`: every declared column read
    as a string (JSON scalars coerced), then the SAME cast/validate/error
    pipeline applies — one ingest contract across wire formats.

    (The reference supports only CSV; this is part of the §7 extension
    track — a 100 TB pipeline ingests JSONL logs constantly.)
    """
    names = [i.name for i in table.items]
    raw_schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    return spark.read.schema(raw_schema).option("mode", "PERMISSIVE").json(source)


def read_table_xml(
    spark: SparkSession,
    source: str | list[str],
    table: TableConfig,
    row_tag: str = "row",
) -> DataFrame:
    """XML twin of :func:`read_table_jsonl`, on Spark 4's NATIVE XML
    datasource (the spark-xml package folded into core): every declared
    column read as a string from ``<row_tag>`` elements, then the SAME
    cast/validate/error pipeline applies — one ingest contract across
    wire formats (CSV/JSONL/ORC/XML).

    (The reference supports only CSV; §7 extension track — XML is the
    wire format of the enterprise feeds that still dominate B2B
    integrations.)
    """
    names = [i.name for i in table.items]
    raw_schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(raw_schema)
        .load(source)
    )


def read_table_fixedwidth(
    spark: SparkSession,
    source: str | list[str],
    table: TableConfig,
    widths: list[int],
) -> DataFrame:
    """Fixed-width ingest — the analog of Redshift COPY's ``FIXEDWIDTH
    'col:width,...'`` option (the one COPY wire format the CSV path
    doesn't cover; the reference itself pins CSV, so this sits on the
    §7 extension track beside JSONL/ORC/XML). ``widths`` aligns with
    the declared column order; each line slices into width-sized
    character fields at cumulative 1-based offsets (pure ``substring``
    column expressions — JVM-side, whole-stage codegen). Fields are
    right-trimmed of pad spaces (Redshift CHAR-padding semantics) and
    the trimmed ``NULL`` literal decodes to NULL (the CSV path's L-3
    contract); then the SAME cast/validate/error pipeline applies — one
    ingest contract across wire formats."""
    names = [i.name for i in table.items]
    assert len(widths) == len(names), (len(widths), len(names))
    df = spark.read.text(source if isinstance(source, list) else [source])
    cols = []
    off = 1
    for name, w in zip(names, widths):
        field = F.rtrim(F.substring(F.col("value"), off, w))
        cols.append(
            F.when(field == "NULL", F.lit(None).cast("string"))
            .otherwise(field)
            .alias(name)
        )
        off += w
    return df.select(*cols)


def read_table_orc(
    spark: SparkSession,
    source: str | list[str],
    table: TableConfig,
) -> DataFrame:
    """ORC twin of :func:`read_table_csv`: the file's native types are
    read by the vectorized ORC reader, coerced to string, and fed through
    the SAME cast/validate/error pipeline — one ingest contract across
    wire formats (CSV / JSONL / ORC).

    (The reference supports only CSV; §7 extension track.)
    """
    names = [i.name for i in table.items]
    return spark.read.orc(source).select(
        *[F.col(n).cast("string").alias(n) for n in names]
    )


def number_lines(raw: DataFrame) -> DataFrame:
    """``raw`` (any ``read_table_*`` relation) plus a 1-based per-file
    ``_load_line`` column — exactly Redshift's stl_load_errors numbering.
    Only :func:`validate_load` calls it, so a clean load never numbers.

    One window for every format: partitioned by input file, which keeps a
    sliced load's scan parallel (a global order would funnel every slice
    through ONE reducer); ordered by the split's start offset in the file,
    then by the monotonic id, which increases within a split. Splittable
    sources (line-mode JSON, text, multi-stripe ORC) read a big file as
    many splits; this order does not depend on how Spark packs them into
    partitions.
    """
    w = Window.partitionBy(F.col("_metadata.file_path")).orderBy(
        F.col("_metadata.file_block_start"), F.monotonically_increasing_id()
    )
    return raw.withColumn(_LINE_COL, F.row_number().over(w))


def _lenient_date(col: F.Column) -> F.Column:
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(p)).cast("date") for p in _DATE_PATTERNS])


def _lenient_ts(col: F.Column) -> F.Column:
    return F.coalesce(
        *[F.try_to_timestamp(col, F.lit(p)).cast("timestamp_ntz") for p in _TS_PATTERNS]
    )


def _cast_expr(item: ColumnItem) -> F.Column:
    """Build the typed expression for one declared column (COPY's implicit
    coercions, L-3/L-4/L-5): a ``try_cast`` to
    :func:`~db_writer_redshift_spark.config.schema.spark_type_for`, except
    that date and timestamp use the lenient parsers and strings other than
    ``text`` are truncated to their declared width."""
    col = F.col(item.name)
    spark_type = spark_type_for(item.type, item.size)
    if isinstance(spark_type, T.DateType):
        return _lenient_date(col)
    if isinstance(spark_type, T.TimestampNTZType):
        return _lenient_ts(col)
    if not isinstance(spark_type, T.StringType):
        return col.try_cast(spark_type)
    if item.type != TEXT_TYPE and item.size:
        try:
            width = int(str(item.size).split(",")[0])
        except ValueError:
            width = None
        if width:
            col = F.substring(col, 1, width)  # TRUNCATECOLUMNS (L-4)
    return col


def _uncastable(item: ColumnItem) -> F.Column | None:
    """The E-2 rejection predicate for one column: a non-NULL raw cell
    whose typed value is NULL. None for string types, which always load
    (truncation is silent, L-4)."""
    if isinstance(spark_type_for(item.type, item.size), T.StringType):
        return None
    return F.col(item.name).isNotNull() & _cast_expr(item).isNull()


def guarded_schema(raw: DataFrame, table: TableConfig) -> DataFrame:
    """Project the raw string DataFrame to the declared schema: drop
    ``ignore`` columns (L-16), rename to dbName, cast per type. Each typed
    column rejects bad cells: it raises :data:`BAD_CELL` (``raise_error``)
    on a row where :func:`_uncastable` holds, so the job that evaluates the
    relation — the load's own write — fails instead of loading a NULL.
    Lazy: no job runs here."""
    exprs = []
    for item in table.effective_items:
        typed = _cast_expr(item)
        failed = _uncastable(item)
        if failed is not None:
            typed = F.when(failed, F.raise_error(F.lit(BAD_CELL))).otherwise(typed)
        exprs.append(typed.alias(item.db_name))
    return raw.select(*exprs)


def is_bad_cell(exc: BaseException) -> bool:
    """Whether ``exc`` is a job failure raised by a :func:`guarded_schema`
    guard (PySpark surfaces it as ``[USER_RAISED_EXCEPTION] <message>``)."""
    return BAD_CELL in str(exc)


def _error_reason(item: ColumnItem) -> F.Column:
    """Reason string per failing cell, matching the reference's golden
    message for short date strings (FunctionalTest.php:73-78)."""
    raw = F.col(item.name)
    if item.type == "date":
        return F.when(
            F.length(raw) < 10,
            F.lit("Invalid Date Format - length must be 10 or more"),
        ).otherwise(F.concat(F.lit("Invalid Date Format - '"), raw, F.lit("'")))
    return F.concat(
        F.lit(f"Cannot cast value '"), raw, F.lit(f"' to type {item.type}")
    )


def validate_load(raw: DataFrame, table: TableConfig, max_errors: int = 10) -> list[LoadError]:
    """Distributed scan for uncastable non-NULL cells; returns up to
    ``max_errors`` :class:`LoadError` in line order (E-2 parity).

    One pass over the data, numbered by :func:`number_lines`: each typed
    column contributes its :func:`_uncastable` predicate; a row failing
    any predicate emits (column, line, raw, reason) structs that are
    exploded and limited.
    All codegen'd — no Python in the row path.
    """
    checks = []
    for item in table.effective_items:
        failed = _uncastable(item)
        if failed is None:
            continue
        raw_col = F.col(item.name)
        checks.append(
            F.when(
                failed,
                F.struct(
                    F.lit(item.name).alias("column"),
                    F.col(_LINE_COL).alias("line"),
                    raw_col.alias("raw_value"),
                    _error_reason(item).alias("reason"),
                ),
            )
        )
    if not checks:
        return []
    errs = (
        number_lines(raw)
        .select(F.explode(F.array_compact(F.array(*checks))).alias("e"))
        .select("e.*")
        .orderBy("line", "column")
        .limit(max_errors)
        .collect()
    )
    return [LoadError(r.column, r.line, r.raw_value, r.reason) for r in errs]


def load_errors_to_exception(errors: list[LoadError]) -> UserException:
    """Format like the reference's errorsToException (Redshift.php:268-285)."""
    lines = "\n".join(e.message() for e in errors)
    return UserException(f"Failed to load data:\n{lines}")


def read_source(
    spark: SparkSession,
    table: TableConfig,
    csv_path: str | None = None,
    manifest_path: str | None = None,
    s3info: dict | None = None,
) -> DataFrame | None:
    """Resolve a load's source (single file with header, or sliced
    manifest) to the raw string relation of :func:`read_table_csv`.
    Returns None for an empty sliced manifest (zero-row success
    short-circuit, Redshift.php:83-90).

    ``s3info`` is the reference's per-table S3 block (bucket / region /
    temporary credentials — Redshift.php:93-106); when present its STS
    credentials are wired onto the s3a connector for the bucket before
    any read (session.configure_s3).
    """
    if s3info:
        from db_writer_redshift_spark.session import configure_s3

        configure_s3(spark, s3info)
    if manifest_path is not None:
        paths = read_manifest_entries(manifest_path)
        if not paths:
            return None
        return read_table_csv(spark, paths, table, sliced=True)
    if csv_path is not None:
        if not os.path.exists(csv_path):
            raise UserException(f"Source file not found: {csv_path}")
        return read_table_csv(spark, csv_path, table, sliced=False)
    raise UserException("No csv_path or manifest_path given")


def ingest_table(
    spark: SparkSession,
    table: TableConfig,
    csv_path: str | None = None,
    manifest_path: str | None = None,
    s3info: dict | None = None,
) -> DataFrame | None:
    """Full COPY analog, lazily: the typed relation of the source
    (:func:`read_source`, same arguments) under :func:`guarded_schema`.
    Runs no Spark job. Returns None for an empty sliced manifest.

    A bad cell fails the job that evaluates the relation, with
    :data:`BAD_CELL` (:func:`is_bad_cell`); that caller then runs
    :func:`validate_load` on a fresh :func:`read_source` to raise the E-2
    message (app.Application does, inside its load).
    """
    raw = read_source(spark, table, csv_path, manifest_path, s3info)
    return None if raw is None else guarded_schema(raw, table)
