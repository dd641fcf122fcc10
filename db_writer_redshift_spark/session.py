"""SparkSession factory.

Reference parity: ``createConnection`` (Redshift.php:44-77) builds the PDO
connection and pins ``search_path``; ``testConnection`` (Redshift.php:321-324)
runs ``select current_date``. Here the "connection" is a SparkSession with the
settings every other module assumes:

* UTC session timezone — parquet test data is timestamp_ntz (naive); all
  date/timestamp arithmetic must agree with the DuckDB oracle.
* AQE on (runtime coalescing + skew-join handling) — the scale story for
  100 TB runs; harmless locally.
* shuffle.partitions sized from the env (local[32] default 32; a real
  cluster overrides via spark-submit conf).
* DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark wraps every ``F.*``/``Column`` call with about five extra py4j
  round trips (active session, conf read, origin set/clear), a stack walk
  and a failing ``import IPython`` that searches every ``sys.path`` entry.
  Building the MinHash-LSH plan took about 7,600 round trips with it on.
  The cost of turning it off is that error messages no longer name the
  Python line that built the failing expression; pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to ``get_spark`` to get it back.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Session confs the engine relies on that a running session also accepts:
# get_spark builds with them, configure_existing pins them onto a session
# built elsewhere.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # a vanilla session defaults to 200 shuffle partitions — far too many
    # tasks for local runs (AQE coalesces, but task setup still costs)
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.adaptive.enabled": "true",
    # AQE coalescing. NOTE (round-8, measured): parallelismFirst=false (the
    # "efficiency" setting) coalesces small-BYTES shuffle reads to one task
    # by size — which serialized CPU-dense verify stages whose rows are
    # narrow but each cost an array_intersect (dedup_ppjoin_exact's verify
    # collapsed to a single 16 s task). Size is the wrong proxy for CPU
    # density, so parallelismFirst stays on (partition count floors at the
    # cluster's parallelism); the advisory size governs how big coalesced
    # partitions get where data IS the cost.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # runtime bloom-filter pushdown: a selective dim-side filter builds a
    # bloom filter that prunes the fact scan before the shuffle — a
    # large-join lever at 100 TB, negligible locally
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long and convert (plans/registry.load_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "db_writer_redshift_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    When a session already exists (driver harness, pytest fixture) we return
    it untouched except for session-scoped confs that are safe to set late
    (timezone, AQE, Arrow).

    Call-site capture is switched off before ``extra_conf`` is applied, so
    ``extra_conf`` can switch it back on (see the module docstring). It is
    a static conf: on an already-running session it keeps the value that
    session was built with.
    """
    builder = SparkSession.builder.appName(app_name).config(
        "spark.python.sql.dataFrameDebugging.enabled", "false"
    )
    if master:
        builder = builder.master(master)
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    confs = {
        **_RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # cost-based optimizer: consume ANALYZE statistics
        # (catalog.analyze_table) for cardinality-based join ordering
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        # naive parquet timestamps stay naive (match DuckDB semantics)
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
        "spark.sql.timestampType": "TIMESTAMP_NTZ",
        **(extra_conf or {}),
    }
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Session-scoped settings that must hold even on a pre-built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Pin the confs the engine relies on onto a session built elsewhere
    (e.g. the driver harness passes its own SparkSession into ``entry``).
    A conf the session rejects is skipped with a warning that names it;
    the remaining confs are still set.

    Call-site capture (see the module docstring) is NOT switched off here:
    ``spark.python.sql.dataFrameDebugging.enabled`` is a static conf, so
    ``spark.conf.set`` rejects it (CANNOT_MODIFY_STATIC_CONFIG) once the
    session exists, and PySpark also caches the flag per process on the
    first ``Column`` call. A session built elsewhere keeps the value its
    builder gave it."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # immutable in some deployments; the engine still runs
            logger.warning("configure_existing: skipped conf %s (%s)", k, type(exc).__name__)
    return spark


def configure_s3(spark: SparkSession, s3info: dict) -> dict[str, str]:
    """Wire a table's S3 block onto Hadoop's s3a connector (L-1 parity).

    The reference's COPY carries temporary STS credentials inline
    (Redshift.php:93-106 — access_key_id / secret_access_key /
    session_token — and region; downloadManifest builds its S3Client from
    the same block, Redshift.php:326-343). The Spark analog is the
    ``fs.s3a.*`` Hadoop configuration consulted when a FileSystem for the
    bucket is first created.

    Credentials are scoped PER BUCKET (``fs.s3a.bucket.<name>.*``) so two
    tables loading from different buckets with different STS grants never
    clobber each other — matching the reference, where each COPY statement
    carries its own credentials clause. Returns the conf dict it applied
    (used by tests; values land in the live hadoopConfiguration too).
    """
    creds = s3info.get("credentials", {})
    bucket = s3info.get("bucket")
    prefix = f"fs.s3a.bucket.{bucket}" if bucket else "fs.s3a"
    mapping = {
        f"{prefix}.access.key": creds.get("access_key_id"),
        f"{prefix}.secret.key": creds.get("secret_access_key"),
        f"{prefix}.session.token": creds.get("session_token"),
        f"{prefix}.endpoint.region": s3info.get("region"),
    }
    applied = {k: v for k, v in mapping.items() if v}
    if applied.get(f"{prefix}.session.token"):
        # session tokens require the temporary-credentials provider
        applied[f"{prefix}.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in applied.items():
        hconf.set(k, v)
    return applied


def test_connection(spark: SparkSession) -> None:
    """Smoke probe — reference ``testConnection`` runs ``select current_date``
    (Redshift.php:321-324)."""
    spark.sql("SELECT current_date()").collect()
