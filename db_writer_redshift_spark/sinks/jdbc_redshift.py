"""JDBC sink for a live Redshift/Postgres endpoint — the write-path analog
of the reference's PDO connection (Redshift.php:58-64: pgsql DSN with
``keepalives=1;keepalives_idle=60``, default port 5439).

Statement semantics mirror the reference exactly:

* upsert (Redshift.php:155-209): with a PK, three statements —
  (a) UPDATE target … FROM staging equi-joined on the PK,
  (b) DELETE FROM staging USING target on the same join,
  (c) INSERT INTO target SELECT * FROM staging — then DROP staging.
  Without a PK it degrades to pure append (a/b skipped).
* full load (RedshiftApplication.php:131-139): drop → create → bulk write.
* incremental load (RedshiftApplication.php:109-129): staging write →
  create-if-missing target → upsert → staging dropped inside upsert.

The SQL builders are pure (unit-tested without a database); ``write_jdbc``
is the one Spark call. Statement execution belongs to the caller via a
``run_sql`` callback so the retry policy (operators/retry.py — 3 tries,
sleep(tries²), reconnect between attempts, per Redshift.php:237-253) wraps
each statement the same way the reference does.

Scale: the bulk write is Spark's partitioned JDBC writer — every
partition opens its own connection and streams batched inserts, so write
parallelism = ``num_partitions`` (cap it: a 1000-executor cluster must
not open 1000 connections against a 16-slice cluster; 8-32 writers is
the useful range). This replaces the reference's S3+COPY hop with direct
parallel inserts; for S3-resident data the COPY path stays available via
sources/csv_ingest + this module's statement builders.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from db_writer_redshift_spark.config.schema import TableConfig
from db_writer_redshift_spark.operators.catalog import generate_tmp_name


def quote_ident(name: str) -> str:
    """Redshift/Postgres double-quoted identifier (the catalog module's
    quoting targets Spark SQL; the wire dialect here is pg). Embedded
    quotes are rejected rather than escaped — same policy as the
    catalog (identifiers come from validated config, not user data)."""
    if '"' in name:
        raise ValueError(f"identifier may not contain a double quote: {name!r}")
    return f'"{name}"'


@dataclass(frozen=True)
class JdbcTarget:
    """Connection coordinates (config `db` tree — RedshiftConfigDefinition)."""

    host: str
    database: str
    user: str
    password: str = field(repr=False, default="")
    port: int = 5439
    schema: str = "public"

    def url(self) -> str:
        """PostgreSQL-wire JDBC URL with the reference's keepalive DSN
        options (Redshift.php:58-64)."""
        return (
            f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"
            "?tcpKeepAlive=true"
        )

    def qualified(self, table: str) -> str:
        return f"{quote_ident(self.schema)}.{quote_ident(table)}"

    def writer_options(
        self, table: str, batchsize: int = 10000
    ) -> dict[str, str]:
        return {
            "url": self.url(),
            "dbtable": self.qualified(table),
            "user": self.user,
            "password": self.password,
            "driver": "org.postgresql.Driver",
            "batchsize": str(batchsize),
            "reWriteBatchedInserts": "true",
        }


# Redshift-side type synthesis: the config carries Redshift types verbatim
# (type + optional size), so DDL passes them through rather than round-
# tripping Spark types.
def _column_ddl(item) -> str:
    size = f"({item.size})" if item.size else ""
    null = ""
    if item.nullable is True:
        null = " NULL"
    elif item.nullable is False:
        null = " NOT NULL"
    default = f" DEFAULT '{item.default}'" if item.default not in (None, "") else ""
    return f"{quote_ident(item.db_name)} {item.type}{size}{default}{null}"


def create_table_sql(
    target: JdbcTarget, table: TableConfig, name: str | None = None, if_not_exists: bool = False
) -> str:
    cols = ", ".join(_column_ddl(i) for i in table.effective_items)
    exists = "IF NOT EXISTS " if if_not_exists else ""
    return f"CREATE TABLE {exists}{target.qualified(name or table.db_name)} ({cols})"


def upsert_statements(
    target: JdbcTarget, table: TableConfig, staging: str
) -> list[str]:
    """The reference's three-statement merge + staging drop
    (Redshift.php:155-209); append-only without a PK."""
    tgt = target.qualified(table.db_name)
    stg = target.qualified(staging)
    cols = [i.db_name for i in table.effective_items]
    col_list = ", ".join(quote_ident(c) for c in cols)
    stmts: list[str] = []
    if table.primary_key:
        on = " AND ".join(
            f"{tgt}.{quote_ident(pk)} = {stg}.{quote_ident(pk)}"
            for pk in table.primary_key
        )
        sets = ", ".join(
            f"{quote_ident(c)} = {stg}.{quote_ident(c)}" for c in cols
        )
        stmts.append(f"UPDATE {tgt} SET {sets} FROM {stg} WHERE {on}")
        stmts.append(f"DELETE FROM {stg} USING {tgt} WHERE {on}")
    stmts.append(f"INSERT INTO {tgt} ({col_list}) SELECT * FROM {stg}")
    stmts.append(f"DROP TABLE {stg}")
    return stmts


def full_load_statements(
    target: JdbcTarget, table: TableConfig
) -> list[str]:
    """drop → create; the bulk write itself is `write_jdbc` (L-11)."""
    return [
        f"DROP TABLE IF EXISTS {target.qualified(table.db_name)}",
        create_table_sql(target, table),
    ]


def incremental_load_statements(
    target: JdbcTarget, table: TableConfig, staging: str | None = None
) -> tuple[str, list[str], list[str]]:
    """Returns (staging_name, pre_statements, post_statements): create the
    staging table, bulk-write into it with `write_jdbc`, then run the
    post statements (create-if-missing target + upsert trio) — the L-12
    sequence."""
    staging = staging or generate_tmp_name(table.db_name)
    pre = [create_table_sql(target, table, name=staging)]
    post = [
        create_table_sql(target, table, if_not_exists=True),
        *upsert_statements(target, table, staging),
    ]
    return staging, pre, post


def write_jdbc(
    df: DataFrame,
    target: JdbcTarget,
    table: str,
    num_partitions: int = 16,
    batchsize: int = 10000,
) -> None:
    """Partitioned append into an existing JDBC table. One connection per
    partition — `num_partitions` IS the writer concurrency, keep it at
    the target cluster's ingest width, not the Spark cluster's."""
    (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .options(**target.writer_options(table, batchsize))
        .mode("append")
        .save()
    )


def run_statements(
    statements: list[str],
    run_sql,
    reconnect=None,
    attempts: int = 3,
    sleep=None,
) -> None:
    """Execute statements in order, each under the reference's retry
    policy (3 tries, sleep(tries²), reconnect between attempts —
    Redshift.php:237-253). ``run_sql(sql)`` executes one statement;
    ``reconnect()`` (optional) is invoked before a retry, mirroring the
    reference's connection re-establishment."""
    from db_writer_redshift_spark.operators.retry import run_with_retry

    for sql in statements:
        state = {"first": True}

        def attempt(sql=sql, state=state):
            if not state["first"] and reconnect is not None:
                reconnect()
            state["first"] = False
            run_sql(sql)

        run_with_retry(
            attempt, attempts=attempts, sleep=sleep, what=f"statement {sql[:40]!r}"
        )
